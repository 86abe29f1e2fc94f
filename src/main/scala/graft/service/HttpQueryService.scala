package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Zero-dependency HTTP adapter over [[QueryService]] — the
  * reference's defining shape is a REST SQL service (Play in the
  * reference; the JDK's built-in httpserver here, since Play is not in
  * the build environment). Every endpoint is a thin translation to one
  * QueryService method; no query logic lives in this layer.
  *
  *   POST /sql      {"query": "...", "limit": 1000, "offset": 0[, "args": {…} | […], "tag": "...", "cache": true, "timeout_ms": n]}
  *                    → {"rows": [...], "count": n, "offset": k[, "cached": bool][, "next_offset": k+n]}
  *   GET  /cachestats                                   → {"hits": n, "misses": m} (result cache)
  *   GET  /metrics                                      → uptime, in-flight/queued queries, cache stats, per-endpoint request/error counters
  *   POST /cancel   {"tag": "..."}                     → {"cancelled": "..."} (cancels that tag's /sql and /export statements)
  *   POST /query    (the /sql request fields)          → {"job": id} (async: returns immediately)
  *   GET  /query/{id}                                  → {"status": running|done|failed[, "rows", "error"]}
  *   GET  /query/{id}/result?offset=0&limit=1000       → page of the finished job's cached rows (409 until done)
  *   POST /query/{id}/cancel                           → {"cancelled": id}
  *   POST /explain  {"query": "..."}                   → {"plan": "..."}
  *   POST /profile  {"table": "..."[, "approx": bool]} → {"profile": [...], "count": n, "approx", "source"}
  *   POST /apply    {"path", "changes", "key"[, "orderBy", "changeType"]} → {"applied_as_version": v} (CDC batch from a registered view)
  *   POST /constraints {"table", "checks": [{"name", "violation"}, …]} → {"constraints": [...], "count": n}
  *   POST /submit   {"name": "...", "query": "..."}    → {"submitted": "..."} (named result view)
  *   POST /export   {"name": "...", "location": "/abs", "query": "..."}
  *                    → {"exported", "location", "version", "rows"} (result lands as a vtable, never in driver memory; page it back via /sql)
  *   POST /cache    {"name": "..."}                    → {"cached": "..."} (name-keyed, survives re-registration)
  *   POST /uncache  {"name": "..."}                    → {"uncached": "..."}
  *   POST /register {"name","format","path","options"} → {"registered": "...", "columns": [...]}
  *   POST /unregister {"name": "..."}                  → {"unregistered": "...", "existed": bool} (drops view + durable definition)
  *   POST /drop-session {"id": "..."}                  → {"dropped": "...", "existed": bool} (frees an X-Graft-Session slot)
  *   GET  /sessions                                    → {"sessions": [...], "max": n} (live X-Graft-Session ids)
  *   GET  /tables                                      → {"tables": [...]}
  *
  * One statement runner ([[Statements]]) runs every /sql, /export and
  * /query statement: one request reader parses their fields (so /query
  * binds `args`, pages from `offset` and honors `cache` and
  * `timeout_ms` exactly as /sql does), and one cancel path serves
  * /cancel, /query/{id}/cancel and `timeout_ms`. A tagged statement
  * runs in job group `graft-http-<tag>`, an async job in
  * `graft-async-<id>`; a /query job's group is always its id's, so its
  * `tag` names no cancel handle.
  *
  * Versioned tables have no routes of their own beyond /apply and
  * /constraints: history, detail, change feed, diff, DML, schema
  * evolution, branches, tags and restore are SQL statements or
  * `table_*` functions at /sql, addressed by registered name or by
  * quoted path (see [[SqlDml]]). A change-feed window the table can't
  * answer is a 409 there, as anywhere.
  *
  * Error classes: client faults — malformed JSON, missing/invalid
  * params, SQL analysis errors (bad syntax, unknown table) — return
  * 400 with {"error": message}; wrong methods 405; an over-sized body
  * 413; anything else (execution faults, server-side state) is a 500.
  *
  * /sql pages server-side: the response echoes `offset` and, when the
  * page filled to `limit` (i.e. more rows may exist), a `next_offset`
  * cursor to pass back. Pages are stable only when the query has a
  * deterministic ORDER BY — the SQL paging contract. The row payload
  * reuses `sqlJson`'s hard collect cap, so no request collects an
  * unbounded result into the shared driver.
  *
  * Trust model: binds to loopback only. With `authToken = None` the
  * service is UNAUTHENTICATED — the dev posture; any local process can
  * run SQL and register sources. With a token configured, every
  * MUTATING surface requires `Authorization: Bearer <token>`: the
  * mutation routes (/apply, /register, /unregister, /submit, /export,
  * /cache, /uncache, /drop-session) AND any /sql or
  * async /query statement whose effective verb can write (MERGE /
  * UPDATE / DELETE / INSERT / CREATE / DROP / SET / ... — see
  * [[SqlDml.isMutation]], which reads the verb from the tokens of
  * Spark's own lexer, past comments and any CTE prologue; unknown
  * verbs classify as mutations so nothing unlisted slips through).
  * Read surfaces stay open unless
  * `authReads = true`, which extends the requirement to every
  * endpoint. Token comparison is constant-time; failures are 401,
  * counted separately per endpoint in /metrics (`auth_failures`).
  * /cancel deliberately stays open either way: it is the emergency
  * lever against a runaway query and destroys no state. Request
  * bodies are capped at `maxBodyBytes` before parsing, so oversized
  * payloads can't occupy the pool's threads or the heap.
  *
  * Threading: dispatch is an unbounded cached pool; the
  * Spark-executing endpoints are bounded by a `maxConcurrentQueries`
  * semaphore (503 after `queueWaitMs` when saturated), so the control
  * plane — /cancel above all — stays responsive exactly when runaway
  * queries have the data plane pinned.
  *
  * Sessions: an `X-Graft-Session: <id>` request header runs the
  * SQL-executing endpoints in that id's own isolated SparkSession
  * (own SQL conf + temp views; catalog definitions shared through the
  * service registry) — one client's `SET x` never changes another's
  * live results. Headerless requests share the default session. At
  * most `maxSessions` distinct ids (excess refused with 400); when a
  * token is configured, CREATING a new id requires it (slot
  * exhaustion by throwaway headers is a mutation-grade act), while
  * requests against an existing id keep the endpoint's own auth
  * level. /drop-session releases the session's /cache entries from
  * the shared CacheManager along with the slot.
  *
  * Observability exposure: /metrics (uptime, in-flight, live session
  * COUNT, per-endpoint counters — no ids, no SQL text) follows
  * `authReads`, like /sessions (which lists actual ids) and
  * /cachestats: open on a default service, token-gated when the
  * operator locks reads down. Deployments that want open health
  * probes with locked reads should front /metrics with their proxy.
  */
final class HttpQueryService(val service: QueryService, port: Int = 0,
    maxRows: Int = 10000, maxBodyBytes: Int = 1 << 20,
    sessionIdleMs: Long = 30L * 60 * 1000, maxSessions: Int = 32,
    maxConcurrentQueries: Int = 8, queueWaitMs: Long = 30000,
    authToken: Option[String] = None, authReads: Boolean = false,
    defaultTimeoutMs: Long = 0) {

  require(defaultTimeoutMs >= 0,
    s"defaultTimeoutMs must be non-negative, got $defaultTimeoutMs")

  require(authToken.forall(_.nonEmpty), "authToken must be non-empty when set")
  require(!authReads || authToken.isDefined,
    "authReads requires an authToken to check against")

  /** Constant-time bearer check; throws (→ 401) when a token is
    * configured and the request's doesn't match. No-op when
    * unauthenticated (dev posture).
    */
  private def requireAuth(exchange: HttpExchange): Unit =
    authToken.foreach { t =>
      val presented = Option(exchange.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Bearer ")).map(_.substring(7))
      val ok = presented.exists(p => java.security.MessageDigest.isEqual(
        p.getBytes(StandardCharsets.UTF_8), t.getBytes(StandardCharsets.UTF_8)))
      if (!ok) throw new HttpQueryService.UnauthorizedException(
        "missing or invalid Authorization: Bearer token")
    }

  private def requireAuthForReads(exchange: HttpExchange): Unit =
    if (authReads) requireAuth(exchange)

  private val mapper = new ObjectMapper()
  // unbounded dispatch pool + a semaphore on the QUERY endpoints: a
  // fixed pool would let runaway /sql requests occupy every thread and
  // starve /cancel — the one endpoint that must stay responsive
  // precisely then. Heavy endpoints shed load with 503 after
  // queueWaitMs instead of queueing unboundedly.
  // the cache must honor this layer's collect bound: a cache build
  // would otherwise pull its own (larger) default rowCap into the
  // shared driver
  if (service.results.cap > maxRows) service.results.cap = maxRows

  /** Named/positional parameter binds from the request body: a JSON
    * OBJECT binds named markers (:k), a JSON ARRAY binds positional
    * markers (?) left to right — the two prepared-statement
    * spellings. Values bind through Spark's parameterized-SQL API as
    * VALUES, never spliced text; only scalars are accepted. An empty
    * object or array binds nothing.
    */
  private def parseArgs(body: JsonNode): Binds = {
    def scalar(what: String, v: JsonNode): Any =
      if (v.isNull) null
      else if (v.isBoolean) v.asBoolean
      else if (v.isIntegralNumber) v.asLong
      else if (v.isNumber) v.asDouble
      else if (v.isTextual) v.asText
      else throw new IllegalArgumentException(
        s"arg $what: only scalar JSON values bind (got ${v.getNodeType})")
    import scala.jdk.CollectionConverters._
    Option(body.get("args")) match {
      case None => Binds.Unbound
      case Some(n) if (n.isObject || n.isArray) && n.isEmpty => Binds.Unbound
      case Some(n) if n.isObject =>
        Binds.Named(n.properties().asScala.map(e =>
          e.getKey -> scalar(e.getKey, e.getValue)).toMap)
      case Some(n) if n.isArray =>
        Binds.Positional(n.elements().asScala.zipWithIndex
          .map { case (v, i) => scalar(s"#$i", v) }.toSeq)
      case Some(_) =>
        throw new IllegalArgumentException(
          "args must be a JSON object (named :k binds) or array (positional ? binds)")
    }
  }

  /** The one reader of a statement request (/sql, /query, /export).
    * The page cap is SERVER-side: a client-supplied limit alone would
    * let one request collect an unbounded result into the shared
    * driver (clients follow next_offset for more rows). A mutating
    * verb (MERGE/UPDATE/DELETE/INSERT/CREATE/DROP/...) needs the same
    * token as the mutation routes — the SQL surface is where every
    * vtable write arrives, and the async plane must not be a
    * mutation-auth bypass.
    */
  private def statement(body: JsonNode, exchange: HttpExchange): Statements.Request = {
    val limit = intArg(body, "limit", 1000)
    require(limit > 0, s"limit must be positive, got $limit")
    val offset = intArg(body, "offset", 0)
    require(offset >= 0, s"offset must be non-negative, got $offset")
    val query = text(body, "query")
    if (SqlDml.isMutation(query)) requireAuth(exchange)
    // a TAGGED request's timeout cancels the tag's whole group —
    // consistent with /cancel, where the tag IS the cancellable unit;
    // clients wanting per-request isolation send distinct tags
    val timeoutMs = longArg(body, "timeout_ms", defaultTimeoutMs)
    require(timeoutMs >= 0, s"timeout_ms must be non-negative, got $timeoutMs")
    Statements.Request(query, parseArgs(body), math.min(limit, maxRows), offset,
      tag = Option.when(body.has("tag"))(text(body, "tag")),
      // "cache": true opts the statement into the version-aware result
      // cache; a /sql response then reports whether the page came from it
      cache = body.has("cache") && body.get("cache").asBoolean(false),
      timeoutMs)
  }

  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  private val heavy = new java.util.concurrent.Semaphore(maxConcurrentQueries, true)
  // the one runner of every /sql, /export and /query statement
  private val statements = new Statements(service)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  // ---- per-client session isolation --------------------------------
  // An `X-Graft-Session: <id>` header runs the request in that id's
  // OWN SparkSession (isolated SQL conf + temp views via
  // QueryService.newIsolated — catalog definitions shared through the
  // registry), so one client's `SET spark.sql.ansi.enabled` can never
  // change another client's live results. Headerless requests use the
  // shared default service — the pre-existing behavior. Applied on
  // the SQL-executing surfaces (/sql, async /query, /explain,
  // /submit, /register, /profile, /constraints); /apply addresses
  // its table by directory and is session-free by construction. The
  // id space is BOUNDED: creating beyond `maxSessions` distinct ids is
  // refused (400) — ids are client-chosen, and an unbounded map of
  // SparkSessions is a memory leak an adversarial client could drive.
  private val sessions =
    new java.util.concurrent.ConcurrentHashMap[String, QueryService]()
  // last-touch wall time per id: the complement to token-gated
  // creation. The gate stops an adversary from FILLING the slots;
  // expiry frees slots a legitimate-but-gone client abandoned, so a
  // long-lived service never needs an operator /drop-session just to
  // make room. Expiry runs inside the creation lock (no background
  // reaper thread to leak; an idle abandoned session costs nothing
  // until someone actually wants a slot).
  private val sessionLastUsed =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  // in-flight request count per session id. Idle expiry MUST skip a
  // session with live work: last-touch is stamped at request START, so
  // a single query running longer than sessionIdleMs would otherwise
  // read as "idle" and another client's session-create would release
  // its caches mid-query and silently hand later requests a fresh
  // session with all temp views and SET state gone. Entries exist only
  // while count > 0 (compute/computeIfPresent keep increment/decrement
  // atomic with insert/remove, so a begin racing a drop-to-zero can't
  // lose its mark), so the map is bounded by live concurrency.
  private val sessionInFlight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  private[graft] def beginSessionWork(id: String): Unit =
    sessionInFlight.compute(id, (_, c) => {
      val n = if (c == null) new java.util.concurrent.atomic.AtomicInteger(0) else c
      n.incrementAndGet(); n
    })

  private[graft] def endSessionWork(id: String): Unit = {
    sessionInFlight.computeIfPresent(id, (_, c) =>
      if (c.decrementAndGet() <= 0) null else c)
    // re-stamp at COMPLETION too: idleness counts from when work
    // ended, not when it started — a 20-minute query should not burn
    // 20 minutes of the idle budget while it runs
    if (sessions.containsKey(id))
      sessionLastUsed.put(id, java.lang.Long.valueOf(System.currentTimeMillis()))
  }

  private def expireIdleSessions(): Unit = {
    val now = System.currentTimeMillis()
    import scala.jdk.CollectionConverters._
    sessions.keySet.asScala.toSeq.foreach { id =>
      val last = sessionLastUsed.get(id)
      if (!sessionInFlight.containsKey(id) &&
          (last == null || now - last.longValue > sessionIdleMs)) {
        val svc = sessions.remove(id)
        sessionLastUsed.remove(id)
        // same cleanup as /drop-session: name-keyed caches live in the
        // SparkContext-shared CacheManager and must be released (the
        // hold-counted release never evicts another session's cache)
        if (svc != null) svc.releaseCaches()
      }
    }
  }

  private val sessionCreateLock = new Object
  private def serviceFor(exchange: HttpExchange): QueryService =
    Option(exchange.getRequestHeaders.getFirst("X-Graft-Session")) match {
      case None => service
      case Some(id) =>
        // lock-free fast path for live ids; creation serializes so the
        // size check and the insert are one atomic step — k concurrent
        // first-requests with distinct fresh ids must not each read
        // size 31 and all breach the documented hard bound
        val existing = sessions.get(id)
        if (existing != null) {
          sessionLastUsed.put(id, java.lang.Long.valueOf(System.currentTimeMillis()))
          existing
        } else {
          // CREATING a session id is mutation-grade when a token is
          // configured: ids are client-chosen and slots are bounded,
          // so an unauthenticated client could otherwise fill all
          // maxSessions slots with throwaway headers and turn every
          // legitimate new-session request into a 400 until an
          // operator /drop-session. Using an EXISTING id stays at the
          // endpoint's own auth level; with no token configured (dev
          // posture) nothing changes.
          requireAuth(exchange)
          sessionCreateLock.synchronized {
            // abandoned ids free their slots before the bound check —
            // OUTSIDE computeIfAbsent (mutating a ConcurrentHashMap
            // inside its own compute can deadlock on bin locks)
            if (!sessions.containsKey(id)) expireIdleSessions()
            sessions.computeIfAbsent(id, _ => {
              require(sessions.size < maxSessions,
                s"too many live sessions (max $maxSessions); reuse or drop an X-Graft-Session id")
              val s = service.newIsolated()
              // isolated caches honor the same driver-side collect bound
              if (s.results.cap > maxRows) s.results.cap = maxRows
              sessionLastUsed.put(id, java.lang.Long.valueOf(System.currentTimeMillis()))
              s
            })
          }
        }
    }

  server.setExecutor(pool)
  server.createContext("/sql", gatedEx { (body, exchange) =>
    val req = statement(body, exchange)
    val (rows, hit) = statements.sql(serviceFor(exchange), req)
    val cached = hit.fold("")(h => s""","cached":$h""")
    val next =
      if (rows.size == req.limit) s""","next_offset":${req.offset + rows.size}""" else ""
    s"""{"rows":[${rows.mkString(",")}],"count":${rows.size},"offset":${req.offset}$cached$next}"""
  })
  server.createContext("/cachestats", exchange =>
    if (exchange.getRequestMethod != "GET") reply(exchange, 405, err("GET only"))
    else
      try {
        requireAuthForReads(exchange)
        val (h, m) = service.results.stats
        reply(exchange, 200, s"""{"hits":$h,"misses":$m}""")
      } catch { case NonFatal(e) => reply(exchange, statusFor(e), err(e.toString)) })
  // ---- observability: per-endpoint traffic counters ----
  // ungated (control plane): must answer while the data plane is
  // saturated — exactly when an operator is looking at it
  server.createContext("/metrics", exchange =>
    if (exchange.getRequestMethod != "GET") reply(exchange, 405, err("GET only"))
    else try {
      requireAuthForReads(exchange)
      val (h, m) = service.results.stats
      val inFlight = maxConcurrentQueries - heavy.availablePermits()
      val eps = {
        import scala.jdk.CollectionConverters._
        counters.asScala.toSeq.sortBy(_._1).map { case (path, c) =>
          s""""$path":{"requests":${c(0).get},"client_errors":${c(1).get},"server_errors":${c(2).get},"auth_failures":${c(3).get}}"""
        }.mkString("{", ",", "}")
      }
      reply(exchange, 200,
        s"""{"uptime_ms":${System.currentTimeMillis() - startedAt},""" +
          s""""in_flight":$inFlight,"queued":${waiters.get},""" +
          s""""sessions":${sessions.size},"timeouts":${statements.timeoutCount},""" +
          s""""cache":{"hits":$h,"misses":$m},"endpoints":$eps}""")
    } catch { case NonFatal(e) => reply(exchange, statusFor(e), err(e.toString)) })
  // ---- async query jobs: submit → id, poll, page, cancel ----
  server.createContext("/query", (exchange: HttpExchange) =>
    try {
      val parts = exchange.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
      requireAuthForReads(exchange)
      (exchange.getRequestMethod, parts) match {
        case ("POST", List("query")) =>
          readBody(exchange).foreach { body =>
            val req = statement(body, exchange)
            // an async job outlives the HTTP round-trip: hold the
            // session's busy mark until the job reaches a terminal
            // state, or idle expiry could release the isolated
            // session's caches under a still-running job
            val sid = Option(exchange.getRequestHeaders.getFirst("X-Graft-Session"))
            sid.foreach(beginSessionWork)
            val id =
              try statements.submit(req, serviceFor(exchange),
                onComplete = () => sid.foreach(endSessionWork))
              catch { case t: Throwable => sid.foreach(endSessionWork); throw t }
            reply(exchange, 200, s"""{"job":${quote(id)}}""")
          }
        case ("GET", List("query", id)) =>
          val (st, n, error) = statements.status(id)
          val extra = n.map(c => s""","rows":$c""").getOrElse("") +
            error.map(e => s""","error":${quote(e)}""").getOrElse("")
          reply(exchange, if (st == "unknown") 404 else 200,
            s"""{"job":${quote(id)},"status":${quote(st)}$extra}""")
        case ("GET", List("query", id, "result")) =>
          val params = Option(exchange.getRequestURI.getQuery).getOrElse("")
            .split("&").filter(_.contains("=")).map { kv =>
              val Array(k, v) = kv.split("=", 2); k -> v
            }.toMap
          val offset = params.get("offset").map(_.toInt).getOrElse(0)
          val limit = params.get("limit").map(_.toInt).getOrElse(1000)
          statements.result(id, offset, limit) match {
            case Some(rows) =>
              reply(exchange, 200,
                s"""{"rows":[${rows.mkString(",")}],"count":${rows.size},"offset":$offset}""")
            case None =>
              val (st, _, _) = statements.status(id)
              reply(exchange, if (st == "unknown") 404 else 409,
                err(s"job $id is $st; result available only when done"))
          }
        case ("POST", List("query", id, "cancel")) =>
          statements.cancel(id)
          reply(exchange, 200, s"""{"cancelled":${quote(id)}}""")
        case (m, List("query")) => reply(exchange, 405, err(s"$m not allowed"))
        // the subpaths EXIST — a wrong method on them is 405, not 404
        case (m, List("query", _)) => reply(exchange, 405, err(s"$m not allowed"))
        case (m, List("query", _, "result" | "cancel")) =>
          reply(exchange, 405, err(s"$m not allowed"))
        case _ => reply(exchange, 404, err("unknown job path"))
      }
    } catch { case NonFatal(e) => reply(exchange, statusFor(e), err(e.toString)) })

  server.createContext("/cancel", postOpen { body =>
    val tag = text(body, "tag")
    // the runner's one cancel: flag the tag's live statements (their
    // jobs that register later are reaped too) and kill its running
    // jobs; idempotent on unknown or finished tags (nothing to cancel
    // is success, not an error)
    statements.cancelTag(tag)
    s"""{"cancelled":${quote(tag)}}"""
  })

  // /apply and /constraints are the two table routes with no SQL
  // statement twin; every other vtable operation is a /sql statement
  server.createContext("/apply", gatedMut { body =>
    val orderBy =
      if (body.has("orderBy")) text(body, "orderBy")
      else graft.sources.VersionedTable.CommitVersionCol
    val changeType =
      if (body.has("changeType")) text(body, "changeType")
      else graft.sources.VersionedTable.ChangeTypeCol
    val v = service.applyTableChanges(text(body, "path"), text(body, "changes"),
      text(body, "key"), orderBy, changeType)
    s"""{"applied_as_version":$v}"""
  })
  server.createContext("/constraints", gatedEx { (body, ex) =>
    require(body.has("checks") && body.get("checks").isArray &&
      body.get("checks").size > 0, "missing or empty array field: checks")
    val checks = (0 until body.get("checks").size).map { i =>
      val c = body.get("checks").get(i)
      (text(c, "name"), text(c, "violation"))
    }
    val svc = serviceFor(ex)
    val rows = svc.jsonRows(
      svc.checkConstraints(text(body, "table"), checks), 10000)
    s"""{"constraints":[${rows.mkString(",")}],"count":${rows.size}}"""
  })
  server.createContext("/profile", gatedEx { (body, ex) =>
    val svc = serviceFor(ex)
    val approx = !body.has("approx") || body.get("approx").asBoolean(true)
    // metadata fast path first (approx only — sidecar NDV is an
    // estimate): a vtable-registered view with full stats + NDV
    // coverage profiles without opening a data file
    val fast = if (approx) svc.profileTableFast(text(body, "table")) else None
    val df = fast.getOrElse(svc.profileTable(text(body, "table"), approx))
    // a profile has exactly one row per profiled column — bounded by
    // schema width, so a fixed generous cap replaces paging
    val rows = svc.jsonRows(df, 10000)
    val src = if (fast.isDefined) "metadata" else "scan"
    s"""{"profile":[${rows.mkString(",")}],"count":${rows.size},"approx":$approx,"source":"$src"}"""
  })
  server.createContext("/explain", gatedEx { (body, ex) =>
    val node = mapper.createObjectNode()
    node.put("plan", serviceFor(ex).explain(text(body, "query")))
    mapper.writeValueAsString(node)
  })
  server.createContext("/submit", gatedMutEx { (body, ex) =>
    val name = text(body, "name")
    serviceFor(ex).submit(name, text(body, "query"))
    s"""{"submitted":${quote(name)}}"""
  })
  // ---- large-result export: the result never touches the driver ----
  // /sql pages a driver-cached collect (correct for dashboards, wrong
  // for a 10^6-row dedup drop manifest); /export lowers the statement
  // to CREATE TABLE … USING vtable … AS query — the result lands
  // DISTRIBUTED as a committed versioned table, registers for paged
  // read-back through the pruned lazy scan (follow up with /sql
  // SELECT … FROM name), and the response carries the handle plus an
  // O(metadata) row count instead of rows. Mutation-grade (it creates
  // a table), like the CREATE it wraps.
  server.createContext("/export", gatedMutEx { (body, ex) =>
    val name = text(body, "name")
    val location = text(body, "location")
    val svc = serviceFor(ex)
    // exports are the service's deliberately LONG statements, so they
    // run through the statement runner like /sql: `timeout_ms` bounds
    // the CTAS and a `tag` makes it /cancel-able. A cancelled CTAS
    // commits nothing (the manifest claim never lands); its orphaned
    // data files are vacuumOrphans debris, the standard crashed-writer
    // posture.
    val req = statement(body, ex)
    val (v, rows) = statements.run(req.tag, req.timeoutMs) {
      Export.exportTo(svc, name, location, req.query)
    }
    s"""{"exported":${quote(name)},"location":${quote(location)},"version":$v,"rows":$rows}"""
  })

  private def longArg(body: JsonNode, name: String, default: Long): Long =
    if (!body.has(name)) default
    else {
      val n = body.get(name)
      require(n.canConvertToLong, s"$name out of long range: $n")
      n.asLong
    }

  /** Bounded int body field: Jackson's asInt silently TRUNCATES long
    * JSON numbers (offset 2^32 would become page 0), so reject
    * anything that doesn't convert exactly.
    */
  private def intArg(body: JsonNode, name: String, default: Int): Int =
    if (!body.has(name)) default
    else {
      val n = body.get(name)
      require(n.canConvertToInt, s"$name out of int range: $n")
      n.asInt
    }

  private def quote(s: String): String =
    mapper.writeValueAsString(mapper.getNodeFactory.textNode(s))
  // session-routed like the other NAME-keyed endpoints: a table
  // registered under an X-Graft-Session id lives in that session's
  // catalog, so its cache ops must resolve there too
  server.createContext("/cache", gatedMutEx { (body, ex) =>
    val name = text(body, "name")
    serviceFor(ex).cache(name)
    s"""{"cached":${quote(name)}}"""
  })
  server.createContext("/uncache", postMutEx { (body, ex) =>
    val name = text(body, "name")
    serviceFor(ex).uncache(name)
    s"""{"uncached":${quote(name)}}"""
  })
  // remove a registered source / submitted view from the session AND
  // the durable registry (it must not resurrect on restart)
  server.createContext("/unregister", gatedMutEx { (body, ex) =>
    val name = text(body, "name")
    val existed = serviceFor(ex).unregister(name)
    s"""{"unregistered":${quote(name)},"existed":$existed}"""
  })
  // free an X-Graft-Session slot (ids are bounded; long-lived services
  // need a way to retire one). The SparkSession itself is just session
  // state over the shared context and dropping the reference releases
  // it — but tables the session cached via /cache live in the
  // SparkContext-SHARED CacheManager and would survive the drop, so
  // they are uncached explicitly (a cache/drop/recreate cycle must
  // not accumulate persisted plans the endpoint claims to free).
  server.createContext("/drop-session", postMut { body =>
    val id = text(body, "id")
    val svc = sessions.remove(id)
    sessionLastUsed.remove(id)
    if (svc != null) svc.releaseCaches()
    s"""{"dropped":${quote(id)},"existed":${svc != null}}"""
  })
  // which ids hold the bounded slots — what an operator reads before
  // deciding which one to /drop-session
  server.createContext("/sessions", exchange =>
    if (exchange.getRequestMethod != "GET") reply(exchange, 405, err("GET only"))
    else
      try {
        requireAuthForReads(exchange)
        import scala.jdk.CollectionConverters._
        val ids = sessions.keySet.asScala.toSeq.sorted.map(quote).mkString(",")
        reply(exchange, 200, s"""{"sessions":[$ids],"max":$maxSessions}""")
      } catch { case NonFatal(e) => reply(exchange, statusFor(e), err(e.toString)) })
  server.createContext("/register", gatedMutEx { (body, ex) =>
    val name = text(body, "name")
    val options =
      if (!body.has("options")) Map.empty[String, String]
      else {
        import scala.jdk.CollectionConverters._
        body.get("options").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      }
    val df = serviceFor(ex).registerSource(
      name, text(body, "format"), text(body, "path"), options)
    val node = mapper.createObjectNode()
    node.put("registered", name)
    val cols = node.putArray("columns")
    df.columns.foreach(cols.add)
    mapper.writeValueAsString(node)
  })
  server.createContext("/tables", exchange =>
    if (exchange.getRequestMethod != "GET") reply(exchange, 405, err("GET only"))
    else
      try {
        requireAuthForReads(exchange)
        val node = mapper.createObjectNode()
        val arr = node.putArray("tables")
        serviceFor(exchange).listTables().foreach(arr.add)
        reply(exchange, 200, mapper.writeValueAsString(node))
      } catch { case NonFatal(e) => reply(exchange, statusFor(e), err(e.toString)) })

  private def text(body: com.fasterxml.jackson.databind.JsonNode, field: String): String = {
    require(body.has(field), s"missing field '$field'")
    body.get(field).asText()
  }

  private def err(msg: String): String = {
    val node = mapper.createObjectNode()
    node.put("error", msg)
    mapper.writeValueAsString(node)
  }

  /** 400 for faults the CALLER caused (malformed JSON, bad params,
    * SQL that fails analysis); 500 for everything else — execution
    * failures and server-side state belong to the server's status
    * class, not the client's.
    */
  private def statusFor(e: Throwable): Int = e match {
    case _: HttpQueryService.UnauthorizedException        => 401 // bad/missing bearer token
    case _: HttpQueryService.ServiceBusyException         => 503 // query plane saturated
    case _: Statements.TooManyJobsException               => 503 // async admission bound
    // the change feed can't answer this window (untracked rewrite /
    // vacuum horizon): a CONFLICT with the table's state the caller
    // resolves by re-reading the snapshot — not a bad request, not a
    // server fault
    case _: graft.sources.VersionedTable.ResyncRequired   => 409
    case _: org.apache.spark.sql.AnalysisException        => 400 // bad SQL / unknown table
    case _: com.fasterxml.jackson.core.JacksonException   => 400 // malformed JSON
    // ANSI runtime faults (cast overflow, div-by-zero) raise
    // SparkThrowables that EXTEND IllegalArgumentException subtypes —
    // they fail server-side during execution, so class them 500 before
    // the params case below can claim them
    case _: org.apache.spark.SparkThrowable               => 500
    case _: IllegalArgumentException                      => 400 // require() params
    case _                                                => 500
  }

  /** Spark-executing endpoints run behind the `heavy` semaphore: at
    * most `maxConcurrentQueries` in flight; an arrival that can't get
    * a slot within `queueWaitMs` is shed with 503. The permit is
    * acquired only AFTER the method check and the (bounded) body read
    * — a client stalling its upload must not pin a query slot — and
    * the number of PARKED waiters is itself capped (4× the plane) so
    * a shed burst can't stack an unbounded pile of waiting threads.
    * /cancel, /uncache and /tables stay ungated — the control plane
    * must answer while the data plane is saturated.
    */
  private def withPermit(run: => String): String = {
    val busy = new HttpQueryService.ServiceBusyException(
      s"server busy: $maxConcurrentQueries queries in flight; retry or /cancel one")
    if (waiters.incrementAndGet() > maxConcurrentQueries * 4) {
      waiters.decrementAndGet()
      throw busy
    }
    val acquired =
      try heavy.tryAcquire(queueWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      finally waiters.decrementAndGet()
    if (!acquired) throw busy
    try run
    finally heavy.release()
  }

  /** Route behind the query permit whose handler sees the exchange —
    * for /sql, where the auth decision is per-STATEMENT (a mutating
    * verb needs the token; a read doesn't).
    */
  private def gatedEx(
      handle: (com.fasterxml.jackson.databind.JsonNode, HttpExchange) => String)
      : com.sun.net.httpserver.HttpHandler =
    postEx((body, ex) => withPermit(handle(body, ex)))

  /** Mutating route: the bearer check runs BEFORE a query permit is
    * taken, so unauthorized requests can't occupy the data plane.
    */
  private def gatedMut(handle: com.fasterxml.jackson.databind.JsonNode => String)
      : com.sun.net.httpserver.HttpHandler =
    postEx { (body, ex) => requireAuth(ex); withPermit(handle(body)) }

  /** [[gatedMut]] whose handler also sees the exchange — for routes
    * that resolve a per-client session from the request headers.
    */
  private def gatedMutEx(
      handle: (com.fasterxml.jackson.databind.JsonNode, HttpExchange) => String)
      : com.sun.net.httpserver.HttpHandler =
    postEx { (body, ex) => requireAuth(ex); withPermit(handle(body, ex)) }

  private def postMut(handle: com.fasterxml.jackson.databind.JsonNode => String)
      : com.sun.net.httpserver.HttpHandler =
    postEx { (body, ex) => requireAuth(ex); handle(body) }

  private def postMutEx(
      handle: (com.fasterxml.jackson.databind.JsonNode, HttpExchange) => String)
      : com.sun.net.httpserver.HttpHandler =
    postEx { (body, ex) => requireAuth(ex); handle(body, ex) }

  private val waiters = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Bounded body read + parse; replies 413 itself (and returns None)
    * for an over-sized body — the single home of the body-cap
    * contract, shared by the POST routes and the /query job route.
    */
  private def readBody(exchange: HttpExchange)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val raw = exchange.getRequestBody.readNBytes(maxBodyBytes + 1)
    if (raw.length > maxBodyBytes) {
      reply(exchange, 413, err(s"request body exceeds $maxBodyBytes bytes"))
      None
    } else Some(mapper.readTree(new String(raw, StandardCharsets.UTF_8)))
  }

  /** POST route exempt from `authReads` — /cancel only: the emergency
    * lever must stay reachable however the service is locked down.
    */
  private def postOpen(handle: com.fasterxml.jackson.databind.JsonNode => String)
      : com.sun.net.httpserver.HttpHandler = (exchange: HttpExchange) =>
    if (exchange.getRequestMethod != "POST") reply(exchange, 405, err("POST only"))
    else
      try readBody(exchange).foreach(body => reply(exchange, 200, handle(body)))
      catch { case NonFatal(e) => reply(exchange, statusFor(e), err(e.toString)) }

  private def postEx(
      handle: (com.fasterxml.jackson.databind.JsonNode, HttpExchange) => String)
      : com.sun.net.httpserver.HttpHandler = (exchange: HttpExchange) =>
    if (exchange.getRequestMethod != "POST") reply(exchange, 405, err("POST only"))
    else {
      // mark the request's session busy for the request's whole
      // duration — idle expiry must never tear down a session whose
      // query is still running (see sessionInFlight)
      val sid = Option(exchange.getRequestHeaders.getFirst("X-Graft-Session"))
      sid.foreach(beginSessionWork)
      try {
        requireAuthForReads(exchange)
        readBody(exchange).foreach(body => reply(exchange, 200, handle(body, exchange)))
      } catch { case NonFatal(e) => reply(exchange, statusFor(e), err(e.toString)) }
      finally sid.foreach(endSessionWork)
    }

  private val startedAt = System.currentTimeMillis()
  // path → [requests, 4xx, 5xx]; populated by reply(), served by
  // /metrics. Keyed on the registered context path (not the raw URI),
  // so /query/{id} variants fold into one row and cardinality is
  // bounded by the endpoint count.
  private val counters =
    new java.util.concurrent.ConcurrentHashMap[String, Array[java.util.concurrent.atomic.AtomicLong]]()

  private def reply(exchange: HttpExchange, status: Int, body: String): Unit = {
    val c = counters.computeIfAbsent(exchange.getHttpContext.getPath,
      _ => Array.fill(4)(new java.util.concurrent.atomic.AtomicLong()))
    c(0).incrementAndGet()
    // 401s are split out of client_errors: an operator reading
    // /metrics must be able to tell "clients sending bad SQL" from
    // "something is probing with the wrong token"
    if (status == 401) c(3).incrementAndGet()
    else if (status >= 400 && status < 500) c(1).incrementAndGet()
    else if (status >= 500) c(2).incrementAndGet()
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    exchange.sendResponseHeaders(status, bytes.length)
    val os = exchange.getResponseBody
    try os.write(bytes) finally os.close()
  }

  def start(): HttpQueryService = { server.start(); this }

  /** Actual bound port (pass port=0 to pick a free one). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = {
    server.stop(0); pool.shutdown(); statements.shutdown()
  }
}

object HttpQueryService {
  /** Query plane saturated — mapped to 503 by `statusFor`. */
  private[service] final class ServiceBusyException(msg: String)
      extends RuntimeException(msg)

  /** Bearer-token check failed — mapped to 401 by `statusFor` and
    * counted in its own /metrics column.
    */
  private[service] final class UnauthorizedException(msg: String)
      extends RuntimeException(msg)
}

/** Standalone service entry point:
  * {{{
  *   sbt "runMain graft.service.HttpServiceMain 8890 /root/testdata/sf0.01"
  *   curl -s localhost:8890/sql -d '{"query":"SELECT count(*) AS n FROM lineitem"}'
  * }}}
  * The optional second argument registers every test table from that
  * directory at startup.
  */
object HttpServiceMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8890)
    val spark = graft.engine.GraftSession.getOrCreate(appName = "graft-http")
    // SPARK_GRAFT_CATALOG_DIR makes /register + /submit definitions
    // durable: they replay from <dir>/_catalog.json at startup, so the
    // catalog survives service restarts (a standing service's tables
    // must outlive its process)
    val service = new QueryService(spark,
      registryDir = sys.env.get("SPARK_GRAFT_CATALOG_DIR"))
    args.drop(1).headOption.foreach { dir =>
      graft.sources.Tables(spark, dir).registerAll()
    }
    // SPARK_GRAFT_HTTP_TOKEN locks the mutating surface (and
    // SPARK_GRAFT_HTTP_AUTH_READS=true every endpoint but /cancel)
    // behind Authorization: Bearer <token>
    val http = new HttpQueryService(service, port,
      authToken = sys.env.get("SPARK_GRAFT_HTTP_TOKEN"),
      authReads = sys.env.get("SPARK_GRAFT_HTTP_AUTH_READS").contains("true")).start()
    println(s"[graft-http] listening on ${http.boundPort}")
    Thread.currentThread().join()
  }
}
