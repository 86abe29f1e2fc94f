package graft.service

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandExecutionMode, FormattedMode}
import org.apache.spark.storage.StorageLevel

import graft.sources.Catalog

/** A statement's parameter binds: none, named (`:k` markers) or
  * positional (`?` markers, bound left to right) — the two
  * prepared-statement spellings.
  */
sealed trait Binds
object Binds {
  case object Unbound extends Binds
  final case class Named(values: Map[String, Any]) extends Binds
  final case class Positional(values: Seq[Any]) extends Binds
}

/** The reference's query-service contract as a library API.
  *
  * wangpy1995/data-service fronts one shared SparkSession with a Play
  * REST layer (POST /sql → rows, plus source registration and result
  * caching). The HTTP frame is out of scope here (no Play in the
  * build env); this class is the same contract, callable: register
  * sources, run SQL, name + cache results. Any HTTP layer is a thin
  * adapter over these five methods.
  *
  * `registryDir`, when set, makes the catalog SURVIVE process death —
  * the posture a standing data service needs (registrations were
  * session temp views only, so a restart emptied the catalog). Every
  * [[registerSource]] and [[submit]] appends its definition — not its
  * data — to `<registryDir>/_catalog.json` (atomic tmp+move, ordered,
  * latest definition per name wins and replays last so redefinitions
  * can reference earlier names), and a new QueryService pointed at the
  * same directory replays the file at construction. A replay entry
  * that no longer resolves (deleted path, dropped upstream view) is
  * skipped with a stderr note instead of failing startup — one stale
  * table must not take the whole service down.
  *
  * A clone created with `parent` set is an ISOLATED twin: its own
  * SparkSession (`newSession()` — isolated SQL conf and temp views,
  * shared SparkContext and cached data) replaying the parent's
  * definition log at construction, and recording its own definitions
  * back into the SAME registry, so the parent, later clones, and the
  * persisted file all see them. One client's `SET
  * spark.sql.ansi.enabled` can then never change another client's
  * live semantics — the HTTP layer keys clones on a session header.
  *
  * The session must carry the graft extensions: their injected
  * [[GraftSqlParser]] is the one SQL router for every vtable statement,
  * so the constructor refuses a session without it.
  */
object QueryService {
  /** Commands, DDL and writes — anything whose EXECUTION is the point:
    * a `Command` anywhere in the parsed tree (the parser's vtable
    * commands included), or an INSERT, which parses to
    * `InsertIntoStatement`.
    */
  private[service] def isCommand(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.find(p =>
      p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] ||
        p.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement])
      .isDefined

  // JVM-wide reference counts for name-keyed caches. The CacheManager
  // is SparkContext-shared, so per-service tracking alone cannot
  // decide eviction: the LAST holder's release is the one that
  // actually uncaches. Keyed by catalog name, like the caches.
  private val cacheHolds =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def retainCache(name: String): Unit = {
    cacheHolds.merge(name, Integer.valueOf(1),
      (a, b) => Integer.valueOf(a.intValue + b.intValue))
    ()
  }

  /** Drop one hold; true when that was the last (caller may evict). */
  private def releaseCacheHold(name: String): Boolean =
    cacheHolds.compute(name, (_, v) =>
      if (v == null || v.intValue <= 1) null
      else Integer.valueOf(v.intValue - 1)) == null

  private def isCacheHeld(name: String): Boolean =
    cacheHolds.containsKey(name)
}

final class QueryService(val spark: SparkSession,
    val registryDir: Option[String] = None,
    parent: Option[QueryService] = None) {

  require(spark.sessionState.sqlParser.isInstanceOf[GraftSqlParser],
    "QueryService needs a session with the graft extensions: build it " +
      "with graft.engine.GraftSession.getOrCreate, or set " +
      "spark.sql.extensions=graft.functions.GraftExtensions")

  val catalog = new Catalog(spark)

  /** An isolated-session twin of this service (see class doc); the
    * new session inherits the extensions, and with them the parser
    * and the graft functions.
    */
  def newIsolated(): QueryService =
    new QueryService(spark.newSession(), registryDir, parent = Some(this))

  /** Version-aware SQL result cache (see [[ResultCache]]); opt-in per
    * call — `sqlJsonCached` — so the plain path stays cache-free.
    */
  lazy val results = new ResultCache(this)

  /** Cached [[sqlJson]]: (page, served-from-cache). Entries key on
    * normalized SQL + the live versions/nonces of every referenced
    * table, so a vtable commit or a re-registered source invalidates
    * dependents automatically.
    */
  def sqlJsonCached(query: String, limit: Int = 1000, offset: Int = 0)
      : (Seq[String], Boolean) =
    results.sqlJson(query, limit, offset)

  /** POST /sql — run a SQL statement, get the result as a DataFrame.
    * The plan stays lazy; callers page/collect as they choose (a
    * command has already run). Table lifecycle statements, which own
    * the service's registry, route through [[SqlDml.dispatch]];
    * everything else is `spark.sql`, whose injected [[GraftSqlParser]]
    * routes vtable DML, maintenance and DESCRIBE HISTORY to the table
    * API.
    *
    * `binds` fill the statement's parameter markers server-side through
    * Spark's own parameterized-SQL API, so client values are VALUES —
    * never spliced text, never an injection surface (the service
    * version of a prepared statement). Parameter markers are for
    * queries: with binds the parser delegates whole, applying only the
    * branch lowering and time-travel substitution — a parameterized
    * MERGE on a vtable fails loudly rather than half-parsing.
    */
  def sql(query: String, binds: Binds = Binds.Unbound): DataFrame = binds match {
    case Binds.Unbound => SqlDml.dispatch(this, query)
      .getOrElse(noteCommand(spark.sql(InfoSchema.prepare(this, query))))
    case Binds.Named(values) =>
      noteCommand(spark.sql(InfoSchema.prepare(this, query), values))
    case Binds.Positional(values) =>
      noteCommand(spark.sql(InfoSchema.prepare(this, query), values.toArray))
  }

  /** A command (CREATE/REPLACE VIEW, SET, INSERT, a vtable commit...)
    * has executed by the time `spark.sql` returns, and may have
    * re-pointed names or changed session semantics underneath cached
    * entries — tell the cache so it invalidates (coarse, DDL is rare).
    */
  private def noteCommand(df: DataFrame): DataFrame = {
    if (QueryService.isCommand(df.queryExecution.logical)) results.noteCommand()
    df
  }

  /** The reference's REST response shape: one JSON object per row,
    * with null fields RETAINED (`toJSON` would drop the key entirely,
    * giving rows inconsistent shapes — a trap for consumers indexing
    * by field). `limit` is a hard guard — a service must never
    * collect an unbounded result to the driver — and `offset` is the
    * server-driven page cursor (GlobalLimit/Offset execute driver-side
    * on the collected prefix, so a page costs the prefix scan, same as
    * SQL OFFSET). Pages are stable only when the query itself has a
    * deterministic ORDER BY — same contract as SQL paging.
    */
  def sqlJson(query: String, binds: Binds = Binds.Unbound, limit: Int = 1000,
      offset: Int = 0): Seq[String] =
    jsonRows(sql(query, binds), limit, offset)

  /** The service's single DataFrame→JSON-rows contract (nulls
    * RETAINED, bounded collect) — every endpoint serializing rows goes
    * through here so the shape can never drift between them.
    */
  def jsonRows(base: DataFrame, limit: Int, offset: Int = 0): Seq[String] = {
    import org.apache.spark.sql.functions.{struct, to_json, col}
    val df = (if (offset > 0) base.offset(offset) else base).limit(limit)
    df.select(to_json(struct(base.columns.map(col).toSeq: _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .collect().map(_.getString(0)).toSeq
  }

  /** Register an external source as a named table. */
  def registerSource(name: String, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val df = catalog.register(name, format, path, options)
    results.noteRegistration(name, format, path)
    registry.recordSource(name, format, path, options)
    df
  }

  /** Run a query and publish the result under a name (temp view) —
    * the reference's named-result workflow.
    */
  def submit(name: String, query: String): DataFrame = {
    // REFUSE info-schema definitions: a submitted view stores its
    // ANALYZED plan, which would bake the backing views' rows at
    // submit time — a catalog listing frozen forever while looking
    // live. Loud beats silently stale; clients query
    // information_schema directly (always fresh by refresh-on-
    // reference).
    require(InfoSchema.rewrite(query).isEmpty,
      "submit: information_schema views snapshot at definition time " +
        "and would serve stale catalog listings — query " +
        "information_schema directly instead")
    val df = spark.sql(query)
    df.createOrReplaceTempView(name)
    // bumps the name's nonce AND taints it if the definition is
    // non-deterministic, so cached queries over the view stay honest
    results.noteSubmission(name, query)
    // record ONLY pure queries: replay runs `spark.sql` on every
    // restart and every isolated-session creation, and a COMMAND
    // (INSERT/SET/DDL) executes eagerly there — recording one would
    // re-run a one-time authorized write N times with no further
    // request. The live submit above still behaves as before; the
    // definition just isn't durable (a command isn't a view anyway).
    if (isPureQuery(query)) registry.recordView(name, query)
    else System.err.println(
      s"[graft] submit '$name': statement is a command — registered live, NOT recorded for replay")
    df
  }

  /** True when `query` parses as a plain query (no Command / INSERT
    * anywhere in the tree) — the only statements safe to re-plan at
    * replay time. Parse failures are NOT pure (never record garbage).
    */
  private def isPureQuery(query: String): Boolean =
    try !QueryService.isCommand(spark.sessionState.sqlParser.parsePlan(query))
    catch { case scala.util.control.NonFatal(_) => false }

  /** Remove a registered source or submitted view: the temp view goes
    * from THIS session, the definition from the shared registry (so it
    * neither replays on restart nor seeds future isolated sessions).
    * Sibling sessions that already registered the view keep their live
    * copy until they drop it — temp views are session state. True when
    * the name was known to either.
    */
  def unregister(name: String): Boolean = {
    val dropped = spark.catalog.dropTempView(name)
    val removed = registry.remove(name)
    if (dropped || removed) results.noteRegistration(name, "", "") // nonce bump
    dropped || removed
  }

  // ---- persistent / shared catalog ---------------------------------
  // ONE registry per service family: clones share the parent's (so
  // definitions recorded anywhere replay into every later clone and,
  // when file-backed, persist once). A parentless service without a
  // registryDir gets an in-memory registry — still the clone-seeding
  // log, just not durable.
  private val registry: CatalogRegistry = parent.map(_.registry).getOrElse(
    new CatalogRegistry(registryDir.map(java.nio.file.Paths.get(_))))
  // replay BEFORE the service takes traffic (construction order: the
  // registry loads here, after catalog/results exist). Definitions
  // only — a source re-reads its path, a view re-plans its SQL (lazy:
  // nothing executes until queried).
  registry.replay { entry =>
    try {
      if (entry.kind == "source") {
        catalog.register(entry.name, entry.format, entry.path, entry.options)
        results.noteRegistration(entry.name, entry.format, entry.path)
      } else if (!isPureQuery(entry.query)) {
        // defense in depth vs a hand-edited registry file: replay must
        // never EXECUTE anything — a command here would re-run a write
        // on every restart/session creation
        System.err.println(
          s"[graft] catalog replay: refusing command view '${entry.name}'")
      } else {
        spark.sql(InfoSchema.prepare(this, entry.query))
          .createOrReplaceTempView(entry.name)
        results.noteSubmission(entry.name, entry.query)
      }
      true
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"[graft] catalog replay: skipping ${entry.kind} '${entry.name}': ${e.getMessage}")
      false
    }
  }

  /** Cache a named table/result by catalog name (survives view
    * re-registration, unlike plan-keyed df.persist).
    */
  def cache(name: String, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Unit = {
    catalog.cacheTable(name, level)
    if (cachedNames.add(name)) QueryService.retainCache(name)
    ()
  }

  /** Release this service's hold on `name`. The cache itself is only
    * evicted when NO live service holds it: cached plans live in the
    * SparkContext-shared CacheManager, so an unconditional uncache
    * from one HTTP session would silently degrade another session
    * that cached the same name (it keeps "working", just slower —
    * the worst kind of cross-session interference to debug). A name
    * nobody tracked falls through to a plain uncache, preserving the
    * operator's explicit intent.
    */
  def uncache(name: String): Unit = {
    val lastHold =
      if (cachedNames.remove(name)) QueryService.releaseCacheHold(name)
      else !QueryService.isCacheHeld(name)
    if (lastHold) catalog.uncacheTable(name)
    ()
  }

  // names THIS service cached: cached plans live in the SparkContext-
  // shared CacheManager and outlive the session object, so dropping a
  // session must release them explicitly or a cache/drop/recreate
  // cycle accumulates persisted plans forever
  private val cachedNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Release every cache hold this service has (called by the HTTP
    * layer's /drop-session and session expiry); each name is evicted
    * only when this was its last holder. Best-effort per name: a view
    * dropped since caching must not block releasing the rest.
    */
  def releaseCaches(): Unit = {
    cachedNames.forEach { n =>
      if (QueryService.releaseCacheHold(n)) {
        try catalog.uncacheTable(n)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    cachedNames.clear()
  }

  def listTables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq

  /** Registry definitions, for catalog introspection ([[InfoSchema]]). */
  private[service] def catalogEntries: Seq[CatalogRegistry.Entry] =
    registry.entriesSnapshot

  /** Column profile of a registered table (one row per column). The
    * HTTP default is `approx=true` — the Expand-free single-pass form
    * is the right default against tables of service scale; exact
    * distincts are an explicit opt-in.
    */
  def profileTable(name: String, approx: Boolean = true): DataFrame =
    (if (approx) profileTableFast(name) else None)
      .getOrElse(graft.operators.Profile.profile(spark.table(name), approx))

  /** Zero-scan profile: when the registered view IS a bare lazy
    * vtable scan (the Catalog's default registration) and the
    * manifest + NDV sidecars cover every column, the profile answers
    * from metadata — no data file opened. None otherwise (view with
    * transformations, non-vtable source, missing sidecar coverage).
    */
  def profileTableFast(name: String): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
    def bareMarker(p: LogicalPlan): Option[graft.plans.VTableRelation] = p match {
      case r: graft.plans.VTableRelation => Some(r)
      case s: SubqueryAlias              => bareMarker(s.child)
      case v: View                       => bareMarker(v.child)
      case _                             => None
    }
    bareMarker(spark.table(name).queryExecution.analyzed).flatMap(r =>
      graft.sources.VersionedTable(spark, r.dir).profileFromMetadata(r.version))
  }

  /** APPLY CHANGES INTO a versioned table over the service: `table`
    * names a REGISTERED view holding the change batch (change-type +
    * ordering columns included), applied as one copy-on-write commit
    * — mixed upserts and deletes, highest-`orderBy` change wins per
    * key. Returns the new committed version.
    */
  def applyTableChanges(dir: String, table: String, key: String,
      orderBy: String = graft.sources.VersionedTable.CommitVersionCol,
      changeType: String = graft.sources.VersionedTable.ChangeTypeCol): Int =
    graft.sources.VersionedTable(spark, dir)
      .applyChanges(spark.table(table), key, orderBy, changeType)

  /** Evaluate a named constraint suite over a registered table — each
    * violation predicate is a SQL boolean marking BAD rows; all checks
    * run in ONE conditional-agg pass.
    */
  def checkConstraints(table: String, checks: Seq[(String, String)]): DataFrame =
    graft.operators.Profile.checkConstraints(spark.table(table),
      checks.map { case (n, v) =>
        graft.operators.Profile.Check(n, org.apache.spark.sql.functions.expr(v)) })

  /** EXPLAIN endpoint: the formatted physical plan for a statement
    * without executing it. The parsed plan is planned with command
    * execution skipped — `spark.sql(query).queryExecution` would
    * EXECUTE command plans (INSERT/DROP run eagerly at Dataset
    * construction since Spark 3.2). Planning is forced before the plan
    * is printed, so a statement that fails analysis or planning raises
    * its reason, as /sql does: SQL `EXPLAIN` answers such a statement
    * with a bare "Error occurred during query planning" row.
    */
  def explain(query: String): String = {
    val qe = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(query), CommandExecutionMode.SKIP)
    qe.executedPlan
    qe.explainString(FormattedMode)
  }
}
