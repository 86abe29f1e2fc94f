package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregate spec of a materialized view — restricted to the
  * ALGEBRAIC aggregates (Gray et al., "Data Cube", ICDE 1996): each
  * has a bounded partial state that merges associatively, which is
  * exactly the property incremental view maintenance needs. AVG is
  * held as (sum, count) and finalized at read time; a holistic
  * aggregate (median, distinct count) has no mergeable state and is
  * deliberately not constructible here.
  */
sealed trait MvAgg { def alias: String }
object MvAgg {
  final case class Count(alias: String) extends MvAgg
  final case class Sum(column: String, alias: String) extends MvAgg
  final case class Min(column: String, alias: String) extends MvAgg
  final case class Max(column: String, alias: String) extends MvAgg
  final case class Avg(column: String, alias: String) extends MvAgg
}

/** Incrementally maintained aggregate view over a [[VersionedTable]]
  * — the caching layer a SQL service needs once the base table is too
  * big to re-aggregate per refresh.
  *
  * The view's state (one row per group, partial-aggregate columns) is
  * itself a VersionedTable, so refreshes are atomic, versioned, and
  * time-travelable. Each refresh:
  *
  *   1. reads the source version the state last covered — carried IN
  *      the state table's own commit manifest (the `epoch` field), so
  *      a crash between "compute" and "record coverage" is impossible
  *      by construction: either the commit landed with its coverage
  *      mark or neither exists;
  *   2. pulls ONLY the new rows via [[VersionedTable.readAppendsSince]]
  *      (a manifest file-set diff — cost proportional to the delta,
  *      never a base-table rescan);
  *   3. partial-aggregates the delta and merges it with the stored
  *      state: count/sum merge by SUM, min/max by MIN/MAX, avg as
  *      (sum, count) — one union of (|groups| + |delta groups|) rows,
  *      one hash agg;
  *   4. commits the merged state with `epoch = sourceVersion`.
  *
  * If a commit inside the refresh window rewrote files, the append
  * diff can't answer — but with change tracking on the source
  * ([[VersionedTable.enableCdf]]) and only SUBTRACTABLE aggregates
  * (count/sum/avg — state forms a group under addition), the refresh
  * folds the row-level change feed as signed deltas (+arrivals,
  * −departures) and stays O(changes). Min/max state is not
  * self-maintainable under deletes (the runner-up is gone), so those
  * definitions — and windows even the feed can't cover (untracked
  * rewrite, overwrite, vacuum horizon) — fall back to a full
  * recompute, still atomic, never a wrong answer. At 100 TB the
  * steady state is: appends stream in, merges/deletes trickle
  * through the feed, `refresh()` touches only the fresh files (or
  * change files) plus a |groups|-row state table — the view costs
  * O(delta), not O(base).
  */
final class MaterializedView private (
    val spark: SparkSession,
    val viewDir: String,
    val sourceDir: String,
    groupCols: Seq[String],
    aggs: Seq[MvAgg]) {

  require(groupCols.nonEmpty, "materialized view needs at least one group column")
  require(aggs.nonEmpty, "materialized view needs at least one aggregate")
  private val dupNames = (groupCols ++ aggs.map(_.alias))
    .groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
  require(dupNames.isEmpty, s"duplicate output column(s): ${dupNames.mkString(", ")}")
  // internal partial-state columns are __-prefixed; a group column
  // carrying that prefix could collide with them (e.g. a group column
  // literally named __min_price vs Min(...,"price")'s state) — reject
  // up front instead of failing deep inside a refresh union
  require(groupCols.forall(!_.startsWith("__")),
    s"group columns must not start with '__' (reserved for internal state): " +
      groupCols.filter(_.startsWith("__")).mkString(", "))

  private[graft] val state = VersionedTable(spark, viewDir)
  private val source = VersionedTable(spark, sourceDir)

  // can every aggregate be maintained under DELETIONS by subtracting
  // contributions? count/sum/avg can (their state is a group under
  // addition); min/max cannot — deleting the current extremum needs
  // the runner-up, which the state doesn't hold (classic IVM theory:
  // MIN/MAX are not self-maintainable under deletes)
  private val subtractable = aggs.forall {
    case _: MvAgg.Min | _: MvAgg.Max => false
    case _                           => true
  }

  // ---- state schema ------------------------------------------------
  // one partial-state column set per aggregate; names are __-prefixed
  // so a group column can never collide with an internal column.
  // __rows tracks group liveness: a group whose source rows are all
  // deleted must VANISH from the view (sum=0 alone can't tell "empty"
  // from "sums to zero")
  private def partialExprs: Seq[Column] = (aggs.flatMap {
    case MvAgg.Count(a)  => Seq(count(lit(1)).as(s"__cnt_$a"))
    case MvAgg.Sum(c, a) => Seq(sum(col(c)).as(s"__sum_$a"))
    case MvAgg.Min(c, a) => Seq(min(col(c)).as(s"__min_$a"))
    case MvAgg.Max(c, a) => Seq(max(col(c)).as(s"__max_$a"))
    case MvAgg.Avg(c, a) =>
      Seq(sum(col(c).cast("double")).as(s"__asum_$a"),
        count(col(c)).as(s"__acnt_$a"))
  }) :+ count(lit(1)).as("__rows")

  private def mergeExprs: Seq[Column] = (aggs.flatMap {
    case MvAgg.Count(a)  => Seq(sum(col(s"__cnt_$a")).as(s"__cnt_$a"))
    case MvAgg.Sum(_, a) => Seq(sum(col(s"__sum_$a")).as(s"__sum_$a"))
    case MvAgg.Min(_, a) => Seq(min(col(s"__min_$a")).as(s"__min_$a"))
    case MvAgg.Max(_, a) => Seq(max(col(s"__max_$a")).as(s"__max_$a"))
    case MvAgg.Avg(_, a) =>
      Seq(sum(col(s"__asum_$a")).as(s"__asum_$a"),
        sum(col(s"__acnt_$a")).as(s"__acnt_$a"))
  }) :+ sum(col("__rows")).as("__rows")

  /** Partial-aggregate raw source rows into state shape. */
  private def partial(rows: DataFrame): DataFrame =
    rows.groupBy(groupCols.map(col): _*)
      .agg(partialExprs.head, partialExprs.tail: _*)

  /** Partial-aggregate a CHANGE FEED into signed state deltas: rows
    * that arrive (insert, update_postimage) contribute +1, rows that
    * depart (delete, update_preimage) contribute −1 — an update is a
    * departure of the old row plus an arrival of the new one, exactly
    * the (ΔR⁻, ΔR⁺) decomposition of incremental view maintenance.
    * Only called when `subtractable` (no min/max state).
    */
  private def signedPartial(changes: DataFrame): DataFrame = {
    val ct = col(VersionedTable.ChangeTypeCol)
    val w = when(ct.isin("insert", "update_postimage"), 1L).otherwise(-1L)
    val exprs = (aggs.flatMap {
      case MvAgg.Count(a)  => Seq(sum(w).as(s"__cnt_$a"))
      case MvAgg.Sum(c, a) => Seq(sum(w * col(c)).as(s"__sum_$a"))
      case MvAgg.Avg(c, a) =>
        Seq(sum(w * col(c).cast("double")).as(s"__asum_$a"),
          sum(when(col(c).isNotNull, w).otherwise(0L)).as(s"__acnt_$a"))
      case other => throw new IllegalStateException(
        s"signed delta over non-subtractable aggregate $other") // guarded by `subtractable`
    }) :+ sum(w).as("__rows")
    changes.groupBy(groupCols.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
  }

  /** Merge two state frames (associative by construction); a group
    * whose row count reaches zero leaves the state entirely.
    */
  private def mergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(groupCols.map(col): _*)
      .agg(mergeExprs.head, mergeExprs.tail: _*)
      .filter(col("__rows") > 0)

  // ---- public API ----------------------------------------------------

  /** Source version the current state covers (0 = never refreshed).
    * Reads the manifest-chain epoch, NOT the monotonic stream mark: a
    * restore of the state table rewinds coverage with the content, so
    * the next refresh re-pulls the rewound-away source versions
    * instead of silently skipping them.
    */
  def coveredSourceVersion: Int =
    state.contentEpoch.map(_.toInt).getOrElse(0)

  def stateVersion: Int = state.currentVersion

  /** Persist the view's definition next to its state (idempotent;
    * written on the first refresh) so `MaterializedView.load` — and
    * the `mview` catalog source — can reopen it by path alone. A
    * different definition aimed at the same state directory is
    * rejected up front: silently merging apples-state into
    * oranges-spec is the failure mode this file exists to prevent.
    */
  /** A branch source's INCARNATION identity: the wall-clock stamp of
    * its fork commit (the clone's version 1). Coverage arithmetic is
    * dir-keyed, and drop + re-create of a same-name branch reuses the
    * same DIRECTORY — so without this pin a re-created branch whose
    * history happens to satisfy the version numbers could feed the
    * view a different lineage. None for non-branch sources (a parent
    * table's directory is its identity) or a vanished branch (the
    * refresh guard owns that error).
    */
  private def branchForkStamp: Option[Long] =
    if (!sourceDir.contains(s"/${VersionedTable.BranchesSub}/")) None
    else if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sourceDir))) None
    // incarnationStamp, not the bare wall-clock commitStamp: fork
    // commits carry a random nonce, so a same-millisecond drop +
    // re-create can no longer produce an identical pin and silently
    // resume the re-created lineage
    else source.incarnationStamp(1)

  private def persistDefinition(): Unit = {
    val defPath = java.nio.file.Paths.get(viewDir, MaterializedView.DefFile)
    val json = MaterializedView.defJson(sourceDir, groupCols, aggs)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def write(forkTs: Option[Long]): Unit = {
      val node = mapper.readTree(json)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      forkTs.foreach(node.put("fork_ts", _))
      java.nio.file.Files.createDirectories(defPath.getParent)
      // stage + atomic rename: the fork_ts migration REWRITES a
      // committed def file, and a crash mid-write must never leave a
      // torn definition behind (load would then fail every open)
      val tmp = defPath.resolveSibling(defPath.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, mapper.writeValueAsString(node)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, defPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    if (java.nio.file.Files.exists(defPath)) {
      val node = mapper.readTree(defPath.toFile)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val pinned = Option(node.get("fork_ts")).map(_.asLong)
      node.remove("fork_ts")
      val committed = mapper.writeValueAsString(node)
      require(committed == json,
        s"view at $viewDir is already defined with a different spec; " +
          "use a fresh directory for a new definition")
      (pinned, branchForkStamp) match {
        case (Some(p), Some(cur)) if p != cur =>
          // same name, same directory, DIFFERENT branch: refusing here
          // is the whole point of pinning the identity
          throw new IllegalStateException(
            s"materialized view at $viewDir follows branch source " +
              s"$sourceDir, but that branch was dropped and re-created " +
              s"(fork stamp $cur != pinned $p): a re-created branch is a " +
              "NEW source lineage, not a resumable one — DROP the view and " +
              "CREATE it afresh over the new branch")
        case (None, cur @ Some(_)) =>
          write(cur) // migrate a pre-identity definition once
        case _ => ()
      }
    } else write(branchForkStamp)
  }

  /** Bring the view up to the source's current version. Returns the
    * state-table version serving the refreshed view; a no-op when the
    * source hasn't moved. `sum`/`count` state is exact under
    * incremental merge; the delta path is taken for pure append
    * windows, and any rewriting commit (merge/delete/overwrite/
    * compact) inside the window triggers a full recompute instead —
    * never a wrong answer.
    */
  def refresh(): Int = {
    val srcV = source.currentVersion
    // a view can follow a BRANCH (the branch is its own table, so IVM
    // works unchanged); when that branch is merged-with-drop or
    // dropped, the next refresh must say WHY the source vanished
    // rather than raise the generic no-committed-version error
    if (srcV == 0 && sourceDir.contains(s"/${VersionedTable.BranchesSub}/") &&
        !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sourceDir)))
      throw new IllegalStateException(
        s"materialized view at $viewDir follows branch source $sourceDir, " +
          "which no longer exists (merged with DROP, or dropped); the last " +
          "refreshed state still reads — DROP the view, or CREATE it afresh " +
          "over the parent or a new branch")
    require(srcV > 0, s"source table at $sourceDir has no committed version")
    persistDefinition()
    // one claim of the state's next version, in the table's commit loop:
    // a lost claim (a concurrent refresh or writer) re-plans against the
    // winner's state
    state.retrying(refreshTo(srcV))
  }

  /** One refresh attempt: fold the source up to `srcV` into the state
    * head and claim the next state version. The epoch guard the stream
    * verbs use makes an attempt that finds `srcV` already covered — by
    * the refresh that beat it to the claim, say — a no-op.
    */
  private def refreshTo(srcV: Int): Int = {
    val covered = coveredSourceVersion
    if (covered >= srcV && state.currentVersion > 0) return state.currentVersion
    // every read below is pinned to srcV — the version the commit will
    // record as covered. A concurrent append landing after the srcV
    // read must NOT leak into this state (it would be folded in yet
    // recorded uncovered → double-counted by the next refresh)
    def recompute() = partial(source.read(srcV))
    val newState =
      if (covered == 0) recompute()
      else {
        val st = state.read()
        if (!st.columns.contains("__rows")) recompute() // pre-liveness state: migrate once
        else
          try {
            val delta = source.readAppendsSince(covered, srcV)
            if (delta.isEmpty) st
            else mergeStates(st, partial(delta))
          } catch {
            // a rewriting commit in the window: the append diff can't
            // answer, but the ROW-LEVEL change feed can — when every
            // aggregate is subtractable (count/sum/avg), fold the
            // signed deltas instead of recomputing O(base). Min/max —
            // or a window the feed itself can't cover (untracked
            // rewrite, overwrite, vacuum horizon) — fall back to the
            // full recompute, never a wrong answer. Deliberately NOT
            // bare IllegalStateException: an unrelated ISE (stopped
            // context) must surface, not silently trigger an O(base)
            // recompute that fails later anyway
            case _: VersionedTable.ResyncRequired if subtractable =>
              try mergeStates(st, signedPartial(source.readChangesSince(covered, srcV)))
              catch { case _: VersionedTable.ResyncRequired => recompute() }
            case _: VersionedTable.ResyncRequired => recompute()
          }
      }
    // the epoch field rides in the SAME atomic commit as the state, so
    // coverage can never drift from content (vacuum keeps it durable
    // via the harvested _last_epoch pointer)
    state.commitData(state.currentVersion + 1, "mv-refresh", newState,
      Seq.empty, epoch = Some(srcV.toLong))
  }

  /** The finalized view: group columns + one column per aggregate
    * (AVG = sum/count). Reads the committed state only — no source
    * IO; stale until the next `refresh()`, like any materialized view.
    */
  def read(): DataFrame = {
    val finalCols = groupCols.map(col) ++ aggs.map {
      case MvAgg.Count(a)  => col(s"__cnt_$a").as(a)
      case MvAgg.Sum(_, a) => col(s"__sum_$a").as(a)
      case MvAgg.Min(_, a) => col(s"__min_$a").as(a)
      case MvAgg.Max(_, a) => col(s"__max_$a").as(a)
      case MvAgg.Avg(_, a) =>
        (col(s"__asum_$a") / col(s"__acnt_$a")).as(a)
    }
    state.read().select(finalCols: _*)
  }
}

object MaterializedView {

  private[sources] val DefFile = "_mv_def.json"

  def apply(spark: SparkSession, viewDir: String, sourceDir: String,
      groupCols: Seq[String], aggs: Seq[MvAgg]): MaterializedView =
    new MaterializedView(spark, viewDir, sourceDir, groupCols, aggs)

  /** Reopen a refreshed view from its persisted definition — the
    * by-path handle the `mview` catalog source uses.
    */
  def load(spark: SparkSession, viewDir: String): MaterializedView = {
    val defPath = java.nio.file.Paths.get(viewDir, DefFile)
    require(java.nio.file.Files.exists(defPath),
      s"no materialized view at $viewDir (definition written on first refresh)")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(defPath.toFile)
    import scala.jdk.CollectionConverters._
    val groupCols = node.get("group").elements().asScala.map(_.asText()).toSeq
    val aggs = node.get("aggs").elements().asScala.map { a =>
      val alias = a.get("alias").asText()
      def c = a.get("column").asText()
      a.get("kind").asText() match {
        case "count" => MvAgg.Count(alias)
        case "sum"   => MvAgg.Sum(c, alias)
        case "min"   => MvAgg.Min(c, alias)
        case "max"   => MvAgg.Max(c, alias)
        case "avg"   => MvAgg.Avg(c, alias)
        case other   => throw new IllegalArgumentException(s"unknown aggregate kind '$other'")
      }
    }.toSeq
    new MaterializedView(spark, viewDir, node.get("source").asText(), groupCols, aggs)
  }

  /** Canonical definition JSON (stable field order → byte-comparable). */
  private[sources] def defJson(sourceDir: String, groupCols: Seq[String],
      aggs: Seq[MvAgg]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("source", sourceDir)
    val g = node.putArray("group")
    groupCols.foreach(g.add)
    val arr = node.putArray("aggs")
    aggs.foreach { a =>
      val o = arr.addObject()
      a match {
        case MvAgg.Count(al)  => o.put("kind", "count"); o.put("alias", al)
        case MvAgg.Sum(c, al) => o.put("kind", "sum"); o.put("column", c); o.put("alias", al)
        case MvAgg.Min(c, al) => o.put("kind", "min"); o.put("column", c); o.put("alias", al)
        case MvAgg.Max(c, al) => o.put("kind", "max"); o.put("column", c); o.put("alias", al)
        case MvAgg.Avg(c, al) => o.put("kind", "avg"); o.put("column", c); o.put("alias", al)
      }
      ()
    }
    mapper.writeValueAsString(node)
  }
}

/** Catalog integration: `read("mview", viewDir)` serves the view's
  * FINALIZED columns from committed state (no source IO);
  * `options("refresh") = "true"` brings it up to the source's current
  * version first. A registered mview works like any SQL table — the
  * serving path of a precomputed-aggregate cache.
  */
object MviewSource extends SourceProvider {
  val format = "mview"
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame = {
    val mv = MaterializedView.load(spark, path)
    if (options.get("refresh").contains("true")) mv.refresh()
    mv.read()
  }
}

/** Contract query for IVM ACROSS REWRITES: a count/sum/avg view over
  * a change-tracked orders vtable that is appended to, MERGED (price
  * bumps + inserts) and DELETED from, with a refresh after each
  * commit — so the committed result is the product of one full
  * compute plus TWO signed-delta folds of the change feed (the
  * append-diff path throws ResyncRequired on both rewrites). The
  * DuckDB oracle aggregates the final snapshot directly: if the
  * ±delta algebra dropped or double-counted anything, the hash
  * diverges. Memoized per (session, corpus) like [[TableMerge]].
  */
object MviewCdfDemo {

  private val views = new graft.util.CorpusMemo[MaterializedView]()

  private[graft] def builtView(t: Tables): MaterializedView =
    views.getOrBuild(t) {
      val parent = graft.util.TempDirs.createWithCleanup("graft-mvcdf")
      val srcDir = parent + "/orders_src"
      val src = VersionedTable(t.spark, srcDir)
      src.enableCdf()
      val base = t.orders.select(col("o_orderkey"), col("o_orderpriority").as("pri"),
        col("o_totalprice").as("price"))
      val mv = MaterializedView(t.spark, parent + "/orders_mv", srcDir,
        Seq("pri"),
        Seq(MvAgg.Count("n_orders"),
          MvAgg.Sum("price", "total"),
          MvAgg.Avg("price", "avg_price")))
      src.append(base.filter(col("o_orderkey") % 2 === 0))
      mv.refresh()
      src.merge(
        base.filter(col("o_orderkey") % 3 === 0)
          .withColumn("price", graft.operators.Rnd.round(col("price") * 1.1, 2)),
        "o_orderkey")
      mv.refresh() // signed-delta fold of the merge's pre/post/insert rows
      src.delete(base.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"),
        "o_orderkey")
      mv.refresh() // signed-delta fold of the delete rows
      mv
    }

  def qMviewCdf(t: Tables): DataFrame =
    builtView(t).read()
      .select(col("pri"), col("n_orders"),
        graft.operators.Rnd.round(col("total"), 2).as("total"),
        graft.operators.Rnd.round(col("avg_price"), 2).as("avg_price"))
      .orderBy("pri")
}

/** Contract query for an MV FOLLOWING A BRANCH: the curation workflow
  * — fork a branch, keep a validating aggregate in step with the fork
  * while the parent keeps moving. The view is created through the SQL
  * surface (`AS SELECT … FROM src BRANCH 'cur' GROUP BY …`), the
  * branch then receives a second append and the view refreshes
  * O(delta) off the BRANCH's own commit log; the parent also moves
  * post-fork on a slice that must NOT appear in the view (the oracle's
  * absence of that slice proves the view tracks the branch, not the
  * parent). Memoized per (session, corpus) like [[MviewDemo]].
  */
object MviewBranchDemo {

  private val views = new graft.util.CorpusMemo[String]()

  private[graft] def builtView(t: Tables): String =
    views.getOrBuild(t) {
      val parent = graft.util.TempDirs.createWithCleanup("graft-mvbranch")
      val srcDir = parent + "/orders_src"
      val mvDir = parent + "/branch_mv"
      val src = VersionedTable(t.spark, srcDir)
      src.enableCdf()
      val base = t.orders.select(col("o_orderkey"),
        col("o_orderpriority").as("pri"), col("o_totalprice").as("price"))
      src.append(base.filter(col("o_orderkey") % 2 === 0)
        .select("pri", "price"))
      src.createBranch("cur")
      val br = src.branch("cur")
      br.append(base.filter(col("o_orderkey") % 2 === 1 &&
        col("o_orderkey") % 3 === 0).select("pri", "price"))
      val tgt = s"__graft_mvbr_${System.identityHashCode(t.spark)}_" +
        t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
      src.scan().createOrReplaceTempView(tgt)
      val svc = new graft.service.QueryService(t.spark)
      svc.sql(s"CREATE MATERIALIZED VIEW ${tgt}_mv LOCATION '$mvDir' AS " +
        s"SELECT pri, count(*) AS n_orders, sum(price) AS total " +
        s"FROM `$tgt` BRANCH 'cur' GROUP BY pri").collect()
      // the branch moves → O(delta) refresh; the parent moves on a
      // slice the view must never see
      br.append(base.filter(col("o_orderkey") % 2 === 1 &&
        col("o_orderkey") % 3 === 1).select("pri", "price"))
      src.append(base.filter(col("o_orderkey") % 2 === 1 &&
        col("o_orderkey") % 3 === 2).select("pri", "price"))
      svc.sql(s"REFRESH MATERIALIZED VIEW '$mvDir'").collect()
      mvDir
    }

  def qMviewBranch(t: Tables): DataFrame =
    MaterializedView.load(t.spark, builtView(t)).read()
      .select(col("pri"), col("n_orders"),
        graft.operators.Rnd.round(col("total"), 2).as("total"))
      .orderBy("pri")
}

/** Contract query: a view over an orders vtable fed by THREE append
  * batches with a refresh after each — so the committed result is the
  * product of two genuinely incremental state merges, and the DuckDB
  * oracle (one plain GROUP BY over all of orders) gates that the
  * incremental algebra reproduces the direct aggregate exactly.
  * Memoized per (session, corpus) like [[TableMerge]].
  */
object MviewDemo {

  private val views = new graft.util.CorpusMemo[MaterializedView]()

  private[graft] def builtView(t: Tables): MaterializedView =
    views.getOrBuild(t) {
      val parent = graft.util.TempDirs.createWithCleanup("graft-mview")
      val srcDir = parent + "/orders_src"
      val src = VersionedTable(t.spark, srcDir)
      val base = t.orders.select(col("o_orderpriority"), col("o_totalprice"))
      val mv = MaterializedView(t.spark, parent + "/orders_mv", srcDir,
        Seq("o_orderpriority"),
        Seq(MvAgg.Count("n_orders"),
          MvAgg.Sum("o_totalprice", "total"),
          MvAgg.Min("o_totalprice", "min_price"),
          MvAgg.Max("o_totalprice", "max_price"),
          MvAgg.Avg("o_totalprice", "avg_price")))
      (0 until 3).foreach { i =>
        src.append(base.filter(pmod(col("o_totalprice").cast("long"), lit(3)) === i))
        mv.refresh()
        ()
      }
      mv
    }

  def qMview(t: Tables): DataFrame =
    builtView(t).read()
      .select(col("o_orderpriority"),
        col("n_orders"),
        graft.operators.Rnd.round(col("total"), 2).as("total"),
        col("min_price"), col("max_price"),
        graft.operators.Rnd.round(col("avg_price"), 2).as("avg_price"))
      .orderBy("o_orderpriority")
}
