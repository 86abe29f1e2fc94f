package graft.service

import java.util.concurrent.{CancellationException, ConcurrentHashMap, Executors, RejectedExecutionException, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The service's one statement runner. Every Spark-executing statement
  * of the HTTP layer registers here under a statement id and runs in a
  * Spark job group: `/sql` and `/export` on the caller's thread
  * ([[run]]), async `/query` jobs on this runner's pool ([[submit]]:
  * job id immediately, then poll [[status]], page [[result]]). Groups:
  *   - a tagged sync request runs in `graft-http-<tag>`, the unit
  *     `/cancel {tag}` kills;
  *   - an async job runs in `graft-async-<id>`;
  *   - any other statement runs in `graft-stmt-<id>`.
  * The prefixes partition the group namespace, so a client tag can
  * never name, or cancel, another plane's statements.
  *
  * One cancel path serves `/cancel {tag}` ([[cancelTag]]),
  * `/query/{id}/cancel` ([[cancel]]) and `timeout_ms` (one cancel
  * scheduled at the bound). Cancellation is three-layered, because each
  * layer has a blind spot:
  *   - a FLAG on the statement covers work that has not started (a
  *     queued job, or a body the cancel beat, never runs) and results
  *     that raced the cancel (cancellation wins for an async job: "you
  *     cancelled it but it completed anyway" is not an answer a client
  *     can act on);
  *   - one `cancelJobGroup` covers Spark jobs already registered;
  *   - a job-start reaper listener covers jobs that REGISTER after the
  *     cancel. The DAGScheduler can register a job hundreds of ms after
  *     submission, and a multi-job statement (AQE stages, iterative
  *     plans) starts its next job after any one cancel; an unreaped
  *     orphan scanning 10^12 rows would hog every task slot and starve
  *     the whole service.
  * Each job carries its statement's id as a local property, and the
  * reaper reads that statement's flag. So a cancelled mark lasts
  * exactly while its statement is registered, and a client reusing a
  * tag after a cancel or a timeout runs normally
  * (`cancelJobGroupAndFutureJobs` would poison the name for good).
  * Planning is not interruptible, deliberately: thread interrupts
  * mid-planning destabilize shared session state, so a cancel landing
  * there takes effect at the statement's first Spark job.
  *
  * Async results are collected through the request's page cap, like
  * the synchronous path (a service never streams an unbounded result
  * into the shared driver), and paged from the driver-cached rows —
  * repeated pages cost nothing after completion. Admission and
  * retention are both bounded: at most `maxConcurrent * 4` unfinished
  * jobs may exist (further submits throw
  * [[Statements.TooManyJobsException]] → 503 at the HTTP layer, the
  * async mirror of the sync path's load shed), and finished jobs
  * beyond `retainJobs` are evicted oldest-first (their cached rows
  * freed with them). A poll for an evicted id reports "unknown" —
  * consumers page results promptly, same contract every job API has.
  */
final class Statements(service: QueryService, retainJobs: Int = 64,
    maxConcurrent: Int = 4) {

  import Statements._

  private final class Stmt(val id: String, val group: String, val async: Boolean) {
    val submittedAtNanos: Long = System.nanoTime()
    val state = new AtomicReference[State](Running)
    @volatile var cancelled = false
    @volatile var timedOut = false
  }

  // live statements by id; finished async jobs stay until evicted
  private val statements = new ConcurrentHashMap[String, Stmt]()
  private val sc = service.spark.sparkContext
  // fixed pool = the async concurrency bound; admitted excess queues
  // (bounded by the admission check in register)
  private val pool = Executors.newFixedThreadPool(maxConcurrent)
  // a deadline only cancels (microseconds), so one daemon thread
  // bounds every in-flight statement
  private val deadlines = Executors.newSingleThreadScheduledExecutor(r => {
    val th = new Thread(r, "graft-statement-deadline"); th.setDaemon(true); th
  })
  private val timeouts = new AtomicLong(0)

  private val reaper = new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      // properties is nullable on the event (Spark's own listeners
      // Option-wrap it); an NPE here would just be swallowed by the
      // listener bus and silently disable the reaper
      for {
        p <- Option(js.properties)
        id <- Option(p.getProperty(IdProperty))
        s <- Option(statements.get(id))
        if s.cancelled
      } sc.cancelJob(js.jobId, s"statement $id (${s.group}) cancelled")
  }
  sc.addSparkListener(reaper)

  private val admission = new Object

  private def register(async: Boolean)(group: String => String): Stmt = {
    val id = java.util.UUID.randomUUID().toString.take(12)
    val s = new Stmt(id, group(id), async)
    // check-and-admit under one lock: concurrent submits must not both
    // pass the guard and breach the documented hard bound
    if (async) admission.synchronized {
      if (statements.values.asScala.count(j => j.async && j.state.get == Running) >=
          maxConcurrent * 4)
        throw new TooManyJobsException(
          s"too many unfinished async jobs (bound ${maxConcurrent * 4}); " +
            "poll or cancel existing jobs")
      statements.put(id, s)
    } else statements.put(id, s)
    s
  }

  /** Run `body` on the caller's thread as one statement, in `tag`'s
    * group when tagged. `timeoutMs` > 0 bounds it: the statement is
    * cancelled at the bound and fails with [[QueryTimeoutException]]
    * (counted in [[timeoutCount]]).
    */
  def run[A](tag: Option[String], timeoutMs: Long)(body: => A): A = {
    val s = register(async = false)(id => tag.fold(s"graft-stmt-$id")(tagGroup))
    try execute(s, timeoutMs)(body)
    finally { statements.remove(s.id); () }
  }

  /** A sync `/sql` statement: `req`'s page, on the caller's thread. */
  def sql(svc: QueryService, req: Request): (Seq[String], Option[Boolean]) =
    run(req.tag, req.timeoutMs)(page(svc, req))

  /** Submit `req` as an async job; returns its id immediately, or throws
    * TooManyJobsException when the unfinished-job bound is hit. `svc`
    * executes the statement (the HTTP layer passes a per-client
    * isolated session); bookkeeping, admission and the reaper stay on
    * the constructor service's SparkContext, which every isolated
    * session shares. `onComplete` fires exactly once when the job
    * reaches a terminal state (done, failed, or cancelled) — the HTTP
    * layer uses it to keep the submitting session marked busy for the
    * job's whole lifetime, so idle-session expiry can never tear down a
    * session with a live async job.
    */
  def submit(req: Request, svc: QueryService = service,
      onComplete: () => Unit = () => ()): String = {
    val s = register(async = true)(id => s"graft-async-$id")
    try pool.execute { () =>
      // eviction runs even when a fatal throwable propagates below —
      // otherwise finished jobs (and their cached rows) linger until
      // some later completion happens to sweep them
      try {
        // every terminal transition is a CAS from Running: cancel CASes
        // to Failed the moment the client is told, so a completion
        // racing the cancel can never overwrite it
        try s.state.compareAndSet(Running, Done(execute(s, req.timeoutMs)(page(svc, req))._1))
        catch {
          // record a terminal state for EVERY throwable — a fatal error
          // escaping with the job still Running would pin an admission
          // slot forever; fatal ones propagate after
          case t: Throwable =>
            s.state.compareAndSet(Running, Failed(t.toString))
            if (!NonFatal(t)) throw t
        }
        ()
      } finally {
        try onComplete() finally evictBeyondRetention()
      }
    } catch {
      case e: RejectedExecutionException =>
        // shutdown race: the entry must not linger as a forever-running
        // job — and the caller's completion hook must still fire, or
        // the submitting session would stay marked busy forever
        statements.remove(s.id)
        try onComplete() catch { case NonFatal(_) => () }
        throw e
    }
    s.id
  }

  /** The one bind-run-serialize step: a page of `req`'s rows, and
    * Some(hit) when it went through the result cache. Bound statements
    * skip the cache: it keys on query TEXT, and two binds of one text
    * must never share an entry.
    */
  private def page(svc: QueryService, req: Request): (Seq[String], Option[Boolean]) =
    if (req.cache && req.binds == Binds.Unbound) {
      val (rows, hit) = svc.sqlJsonCached(req.query, req.limit, req.offset)
      (rows, Some(hit))
    } else (svc.sqlJson(req.query, req.binds, req.limit, req.offset), None)

  /** Run `body` as statement `s` on this thread: set its job group and
    * id, arm its deadline, and skip the body when a cancel beat it.
    */
  private def execute[A](s: Stmt, timeoutMs: Long)(body: => A): A = {
    sc.setJobGroup(s.group, s"graft statement ${s.id}", interruptOnCancel = true)
    sc.setLocalProperty(IdProperty, s.id)
    val deadline = Option.when(timeoutMs > 0)(deadlines.schedule(
      (() => { s.timedOut = true; cancel(s.group, timeoutMessage(timeoutMs), Seq(s)) }): Runnable,
      timeoutMs, TimeUnit.MILLISECONDS))
    try {
      if (s.cancelled)
        throw new CancellationException(s"statement ${s.id} cancelled before start")
      body
    } catch {
      // the cancel surfaces as a SparkException in the collect; remap
      // it to the timeout's own type so the caller sees WHY (500 with
      // the bound named) and /metrics counts it as a timeout, not a
      // generic server error
      case NonFatal(e) if s.timedOut =>
        timeouts.incrementAndGet()
        throw new QueryTimeoutException(timeoutMessage(timeoutMs), e)
    } finally {
      deadline.foreach(_.cancel(false))
      sc.setLocalProperty(IdProperty, null)
      sc.clearJobGroup()
    }
  }

  /** The one cancel: flag `targets` (the reaper then kills any job they
    * register later), land async ones as failed with `reason`, and kill
    * `group`'s registered jobs.
    */
  private def cancel(group: String, reason: String, targets: Iterable[Stmt]): Unit = {
    targets.foreach { s =>
      s.cancelled = true
      // the decisive step: once this CAS lands (job was Running), the
      // outcome IS cancelled — a completion racing us finds the state
      // taken and its CAS fails, so the result never surfaces as done
      s.state.compareAndSet(Running, Failed(reason))
    }
    sc.cancelJobGroup(group)
  }

  /** Cancel statement `id` (`/query/{id}/cancel`); a no-op for
    * finished or unknown ids.
    */
  def cancel(id: String): Unit =
    Option(statements.get(id)).foreach(s => cancel(s.group, "cancelled", Seq(s)))

  /** Cancel every statement running under client `tag` (`/cancel`);
    * idempotent on unknown or finished tags.
    */
  def cancelTag(tag: String): Unit = {
    val g = tagGroup(tag)
    cancel(g, "cancelled", statements.values.asScala.filter(_.group == g).toSeq)
  }

  /** Statements that failed at their `timeout_ms` bound so far. */
  def timeoutCount: Long = timeouts.get

  private def job(id: String): Option[State] =
    Option(statements.get(id)).filter(_.async).map(_.state.get())

  /** "running" | "done" | "failed" | "unknown" (+ row count when done). */
  def status(id: String): (String, Option[Int], Option[String]) =
    job(id) match {
      case None            => ("unknown", None, None)
      case Some(Running)   => ("running", None, None)
      case Some(Done(rs))  => ("done", Some(rs.size), None)
      case Some(Failed(e)) => ("failed", None, Some(e))
    }

  /** Page a finished job's cached rows; None until done (or unknown). */
  def result(id: String, offset: Int = 0, limit: Int = 1000): Option[Seq[String]] = {
    require(offset >= 0, s"offset must be non-negative, got $offset")
    require(limit > 0, s"limit must be positive, got $limit")
    job(id).collect { case Done(rows) => rows.slice(offset, offset + limit) }
  }

  private def evictBeyondRetention(): Unit =
    statements.values.asScala.filter(s => s.async && s.state.get() != Running)
      .toSeq.sortBy(_.submittedAtNanos).dropRight(retainJobs)
      .foreach(s => statements.remove(s.id))

  def shutdown(): Unit = {
    // shutdown (NOT shutdownNow): queued jobs still execute and reach a
    // terminal state, and no worker is interrupted mid-planning — the
    // hazard the cancel path deliberately avoids applies doubly here,
    // on a SparkContext that outlives this service.
    pool.shutdown()
    deadlines.shutdown()
    // the reaper may only go once the drain REALLY finished — a job
    // cancelled near shutdown can still register its Spark job while
    // workers wind down. On a slow drain the listener stays registered:
    // one idle listener on the outliving context is a bounded cost;
    // an unreaped orphan scan is not.
    if (pool.awaitTermination(10, TimeUnit.SECONDS)) sc.removeSparkListener(reaper)
  }
}

object Statements {
  /** One statement request, as `/sql`, `/query` and `/export` read it:
    * the SQL text, its binds, the page (`limit` rows from `offset`),
    * an optional client tag, the result-cache opt-in and a
    * `timeout_ms` bound (0 = none).
    */
  final case class Request(query: String, binds: Binds = Binds.Unbound,
      limit: Int = 1000, offset: Int = 0, tag: Option[String] = None,
      cache: Boolean = false, timeoutMs: Long = 0)

  sealed trait State
  case object Running extends State
  final case class Done(rows: Seq[String]) extends State
  final case class Failed(error: String) extends State

  /** Local property carrying a job's statement id to the reaper. */
  private val IdProperty = "graft.statement.id"

  /** Job group of client tag `tag`. */
  private def tagGroup(tag: String): String = s"graft-http-$tag"

  private def timeoutMessage(timeoutMs: Long): String =
    s"query exceeded timeout_ms=$timeoutMs and its jobs were cancelled"

  /** Admission bound hit — the async mirror of the sync 503 shed. */
  final class TooManyJobsException(msg: String) extends RuntimeException(msg)

  /** A statement ran past its `timeout_ms` bound and its jobs were
    * cancelled — a server-side execution fault (500), counted
    * separately in /metrics (`timeouts`).
    */
  final class QueryTimeoutException(msg: String, cause: Throwable)
      extends RuntimeException(msg, cause)
}
