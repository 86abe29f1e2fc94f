package graft.service

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer

import graft.sources.VersionedTable

/** SQL result cache with BINDING-AWARE keys — the reference's
  * result-caching service contract, made safe against stale AND
  * cross-binding reads.
  *
  * A cached entry is keyed by (normalized SQL, data fingerprint). The
  * fingerprint folds in, for every table name the statement
  * references, the name's REGISTERED BINDING:
  *
  *   - a [[VersionedTable]]-backed source → the table dir plus the
  *     snapshot version PINNED at registration. Registration pins a
  *     vtable view to the then-current file list, so live execution
  *     serves that snapshot until the name is re-registered — the
  *     cache mirrors exactly those semantics. Re-registering after a
  *     commit rotates the fingerprint (new pinned version, new dir if
  *     re-pointed), so entries from the old binding can never answer
  *     for the new one;
  *   - any other source/view → a registration nonce the service bumps
  *     on re-register/submit — re-pointing a name is the declared
  *     refresh signal (a file someone rewrites in place underneath a
  *     parquet view is undetectable without listing, same trade every
  *     mtime-free cache makes).
  *
  * Names are folded case-insensitively, matching Spark's resolution.
  *
  * Normalization ([[normalize]]) collapses whitespace and comments
  * and case-folds every token of Spark's lexer except literals and
  * quoted identifiers (so `'it\'s  A'` keeps its exact bytes), so
  * trivially re-spelled statements share an entry while `WHERE name =
  * 'Drop'` and `= 'drop'` never do. Statements invoking
  * non-deterministic functions (rand, uuid, now, ...) bypass the cache
  * entirely — and `submit`-published views WRAPPING such functions
  * taint their name, so querying them through the view bypasses too
  * (views created outside the service can't be seen into; documented
  * residual).
  *
  * Bounded LRU ([[graft.util.BoundedMemo]]): at most `capacity`
  * result sets, each at most `rowCap` rows (an entry records whether
  * it holds the COMPLETE result; a page reaching past an incomplete
  * prefix falls through to live execution — reported and counted as a
  * miss). Concurrent identical misses share one execution — the
  * memo's per-key build latch.
  */
final class ResultCache(service: QueryService, capacity: Int = 64,
    rowCap: Int = 10000) {

  /** Driver-collect cap for cache builds. Mutable so an HTTP layer
    * with a stricter `maxRows` can tighten it at startup — the cache
    * must never collect more rows than the service's own bound.
    */
  @volatile var cap: Int = rowCap

  private final case class Entry(rows: IndexedSeq[String], complete: Boolean)

  private val memo = new graft.util.BoundedMemo[String, Entry](capacity, _ => ())
  // lowercased name → pinned vtable binding "dir@vN"; name → nonce
  private val vtableBindings = new ConcurrentHashMap[String, String]()
  private val nonces = new ConcurrentHashMap[String, java.lang.Long]()
  // lowercased names whose submitted definition is non-deterministic
  private val nondetNames = ConcurrentHashMap.newKeySet[String]()
  private val hitCount = new AtomicLong(0)
  private val missCount = new AtomicLong(0)

  /** Record what a catalog name points at (called on /register): for a
    * vtable, the dir AND the snapshot version the registration pinned;
    * re-registration always bumps the name's nonce too, dropping
    * entries built on the old binding.
    */
  def noteRegistration(name: String, format: String, path: String): Unit = {
    val key = name.toLowerCase
    if (format == "vtable") {
      val v = try VersionedTable(service.spark, path).currentVersion
              catch { case NonFatal(_) => -1 }
      vtableBindings.put(key, s"$path@v$v")
    } else vtableBindings.remove(key)
    nondetNames.remove(key)
    invalidate(name)
  }

  /** Record a `submit`-published view: bumps the nonce and, when the
    * submitted statement is non-deterministic (directly or through a
    * previously tainted name), taints this name so queries over it
    * bypass the cache.
    */
  def noteSubmission(name: String, query: String): Unit = {
    val key = name.toLowerCase
    val tainted =
      try {
        val plan = service.spark.sessionState.sqlParser.parsePlan(query)
        hasNondeterministic(plan) || hasStatefulTvf(plan) ||
          referencedNames(plan).exists(n =>
            nondetNames.contains(n) || isIntrospection(n))
      } catch { case NonFatal(_) => false }
    if (tainted) nondetNames.add(key) else nondetNames.remove(key)
    invalidate(name)
  }

  /** Catalog-introspection relations (information_schema or its
    * backing views): their content tracks live session state that no
    * name nonce covers, so anything built over them must never cache —
    * a view WRAPPING one inherits the taint through noteSubmission.
    */
  private def isIntrospection(name: String): Boolean =
    name.startsWith("information_schema.") || name.startsWith("__graft_info_")

  // any command executed through the service (CREATE/REPLACE VIEW,
  // SET, INSERT...) may re-point names or change session state the
  // fingerprints can't see — one coarse global nonce invalidates the
  // whole cache on DDL (rare) rather than risking a stale serve
  private val ddlNonce = new AtomicLong(0)

  def noteCommand(): Unit = { ddlNonce.incrementAndGet(); () }

  /** Bump a name's nonce (re-register, /submit, or explicit). */
  def invalidate(name: String): Unit = {
    nonces.merge(name.toLowerCase, 1L, (a, b) => a + b)
    ()
  }

  def stats: (Long, Long) = (hitCount.get, missCount.get)

  /** Cached equivalent of [[QueryService.sqlJson]]: returns the page
    * and whether it was served from cache. Non-deterministic
    * statements and pages past an incomplete cached prefix execute
    * live (reported and counted as non-hits).
    */
  def sqlJson(query: String, limit: Int, offset: Int): (Seq[String], Boolean) = {
    def live = (service.sqlJson(query, limit = limit, offset = offset), false)
    val plan =
      try service.spark.sessionState.sqlParser.parsePlan(query)
      catch { case NonFatal(_) =>
        // unparseable here → let the live path raise the real error
        return live
      }
    // commands and writes are NEVER cacheable: serving INSERT/SET/DDL
    // from cache would silently suppress the side effect the client
    // asked for (the live path also bumps the DDL nonce — see
    // QueryService.sql)
    if (QueryService.isCommand(plan))
      return live
    val names = referencedNames(plan)
    if (hasNondeterministic(plan) || names.exists(nondetNames.contains))
      return live
    // graft's TABLE functions read table state the name fingerprint
    // can't see — their target arrives as a string ARGUMENT, not an
    // UnresolvedRelation, so no version binding or nonce covers it: a
    // cached table_changes/table_branch/table_stats result would
    // silently go stale on the next commit to the argument table (a
    // direct-API writer bumps no DDL nonce). Version-pinned spellings
    // (table_diff, until-bounded table_changes) over-bypass — safe
    if (hasStatefulTvf(plan))
      return live
    // catalog INTROSPECTION is never cacheable: information_schema
    // views (under either spelling — the SQL name or the backing temp
    // views) reflect live session state, and registrations bump nonces
    // for the REGISTERED names — not for these — so a cached listing
    // would silently go stale the moment the catalog changes
    if (names.exists(isIntrospection))
      return live
    // session flags that change RESULT SEMANTICS key separately: an
    // approximate-mode answer must never serve an exact-mode caller
    // (or vice versa, or across different error targets)
    val semantics = {
      val approx =
        if (service.spark.conf.getOption("spark.graft.approxDistinct").contains("true"))
          "approx@" +
            service.spark.conf.getOption("spark.graft.approxDistinct.rsd").getOrElse("0.05")
        else ""
      // the session confs that change rendered RESULTS for the same
      // data: timezone (timestamp rendering) and ANSI mode (eval
      // semantics) — a SET through /sql must not let old-semantics
      // entries answer new-semantics calls
      "\u0000tz=" +
        service.spark.conf.getOption("spark.sql.session.timeZone").getOrElse("") +
        "\u0000ansi=" +
        service.spark.conf.getOption("spark.sql.ansi.enabled").getOrElse("") +
        "\u0000ddl=" + ddlNonce.get + "\u0000" + approx
    }
    val key = normalize(query) + "\u0000" + fingerprint(names) + semantics
    var built = false
    val entry =
      try memo.getOrBuild(key) {
        built = true
        // one extra row past the cap tells a truncated prefix apart
        // from an exactly-cap-sized complete result
        val c = cap
        val rows = service.sqlJson(query, limit = c + 1)
        Entry(rows.take(c).toIndexedSeq, rows.size <= c)
      } catch {
        // a WAITER inheriting another client's failed/cancelled build
        // (shared-miss execution) runs live instead of surfacing a
        // stranger's cancellation as its own 500; the BUILDER's own
        // failure propagates — that query genuinely failed
        case NonFatal(_) if !built =>
          missCount.incrementAndGet()
          return live
      }
    if (!entry.complete && offset + limit > entry.rows.size) {
      // found but unable to serve the page — a live execution, a miss
      missCount.incrementAndGet()
      live
    } else {
      if (built) missCount.incrementAndGet() else hitCount.incrementAndGet()
      (entry.rows.slice(offset, offset + limit), !built)
    }
  }

  // ---- keying --------------------------------------------------------

  /** Every relation name the statement references (lowercased,
    * deduped, sorted), subqueries included. CTE names show up too —
    * their nonce is a harmless constant.
    */
  private def referencedNames(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] =
    plan.collectWithSubqueries { case r: UnresolvedRelation =>
      r.multipartIdentifier.mkString(".").toLowerCase
    }.distinct.sorted

  /** One token per referenced name: vtable names carry their pinned
    * registration binding (dir + snapshot version), every name its
    * nonce.
    */
  private def fingerprint(names: Seq[String]): String =
    names.map { name =>
      val binding = Option(vtableBindings.get(name)).map(b => s"@$b").getOrElse("")
      s"$name$binding#${nonces.getOrDefault(name, 0L)}"
    }.mkString(";")

  private def hasNondeterministic(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    val hits = plan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect {
        case f: UnresolvedFunction => f.nameParts.last.toLowerCase
        // the ANSI niladic forms (`SELECT current_date`, no parens)
        // parse as plain ATTRIBUTES — the analyzer resolves them to the
        // datetime/user functions only later. Without this case a
        // cached result would go stale at midnight / serve another
        // session's user. A real column that happens to carry one of
        // these names over-bypasses — safe (uncached, never wrong).
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 => a.nameParts.head.toLowerCase
      })
    }.flatten.toSet
    hits.exists(ResultCache.NondeterministicFns)
  }

  /** Does the statement invoke one of graft's table functions? Their
    * table identity hides in a string argument, outside every
    * fingerprint — see the bypass at the call site.
    */
  private def hasStatefulTvf(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.collectWithSubqueries {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction =>
        t.name.last.toLowerCase
    }.exists(ResultCache.StatefulTvfs)

  /** The statement's key text, built from the tokens of Spark's own
    * lexer ([[SqlTokens]]): string literals and back-quoted
    * identifiers keep their exact bytes, every other token is
    * lower-cased, each run of whitespace and comments becomes one
    * space, and trailing `;` tokens drop. Re-spelled and re-commented
    * statements share an entry; `WHERE name = 'Drop'` and `= 'drop'`
    * never do.
    */
  private[graft] def normalize(sql: String): String = {
    val toks = SqlTokens(sql).all
    val last = toks.lastIndexWhere(t => t.isCode && t.kind != SqlBaseLexer.SEMICOLON)
    val out = new java.lang.StringBuilder(sql.length)
    var gap = false
    toks.iterator.take(last + 1).foreach { t =>
      if (!t.isCode) gap = true
      else {
        if (gap && out.length > 0) out.append(' ')
        gap = false
        val keepBytes = t.kind == SqlBaseLexer.STRING_LITERAL ||
          t.kind == SqlBaseLexer.DOUBLEQUOTED_STRING || t.isBackquoted
        out.append(if (keepBytes) t.text else t.text.toLowerCase(java.util.Locale.ROOT))
      }
    }
    out.toString
  }
}

object ResultCache {
  /** Functions whose results must never be memoized. */
  val NondeterministicFns: Set[String] = Set(
    "rand", "randn", "random", "uuid", "shuffle", "monotonically_increasing_id",
    "now", "current_timestamp", "current_date", "current_timezone",
    "unix_timestamp", "localtimestamp", "current_user", "session_user",
    "input_file_name", "spark_partition_id")

  /** graft table functions whose content lives outside the name
    * fingerprint (table identity is a string argument).
    */
  val StatefulTvfs: Set[String] = Set(
    "table_changes", "table_stats", "table_diff", "table_branch",
    "text_search", "text_phrase", "text_near", "text_bm25", "ann_search",
    "asof_join", "table_history", "table_files", "table_branches",
    "table_tags")
}
