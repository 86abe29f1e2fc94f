package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Recursive (frontier-chasing) queries OVER A VTABLE with per-level
  * file pruning — the scale posture `q_recursive_cte`'s plain SQL
  * form can't reach: Spark's native WITH RECURSIVE re-plans each
  * level as a join against the full table relation, so every level
  * re-SCANS the table even though the live frontier pins the only
  * keys that can match. Here the frontier's stepped keys push as an
  * executed IN-list straight into the LAZY vtable scan
  * (Filter-over-marker, which [[graft.plans.VTableScanRule]]
  * collapses through the manifest's per-file stats and Bloom
  * sidecars), so each recursion level is ONE tiny job over
  * O(matching files) of a range-clustered table — on a 100 TB table,
  * the difference between 12 directory pings and 12 full scans
  * (TableRecursiveSpec asserts the per-level file count). The same
  * IN-list derivation is what the DFP rule would compute from a
  * LocalRelation dim join; doing it from the already-collected
  * frontier skips the optimizer-time derivation job each level would
  * otherwise pay.
  *
  * The frontier itself is collected per level — bounded by the live
  * CHAIN count, not the corpus (key-chasing recursions carry only the
  * frontier; the contract query's is ≤ 32 rows). `frontierCap` guards
  * the collect: a frontier that outgrows it falls back to the
  * distributed join against the same lazy scan (correct at any size)
  * instead of materializing on the driver.
  */
object TableRecursive {

  private val tables = new graft.util.CorpusMemo[String]()

  /** The contract fixture: orders' key column committed as a vtable,
    * range-clustered on o_orderkey across 8 files so a small key set
    * prunes to 1 of 8 (the clustered layout a maintenance loop keeps
    * on a long-lived table — same convention as [[TableSkip]]).
    */
  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      val dir = graft.util.TempDirs.createWithCleanup("graft-trec") + "/orders_rk"
      val vt = VersionedTable(t.spark, dir)
      vt.append(t.orders.select(col("o_orderkey"))
        .repartitionByRange(8, col("o_orderkey")))
      dir
    }

  /** Chase key chains through `vt`: seed rows are `keyCol` values
    * matching `seedCond` (pushed into the pruned scan), and each level
    * follows `step(k)` for every live chain, surviving only where the
    * stepped key exists in the table. Returns every visited
    * (start_k, k, depth) node. Levels run until the frontier dies or
    * `maxDepth` — the cap is declared semantics, the same production
    * guard as [[graft.operators.Relational.qRecursiveCte]].
    */
  def chaseChains(vt: VersionedTable, keyCol: String, seedCond: Column,
      step: Column => Column, maxDepth: Int,
      frontierCap: Int = 100000): DataFrame = {
    val spark = vt.spark
    val schema = StructType(Seq(StructField("start_k", LongType, nullable = false),
      StructField("k", LongType, nullable = false),
      StructField("depth", IntegerType, nullable = false)))
    def frame(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val dimSchema = StructType(Seq(
      StructField("start_k", LongType, nullable = false),
      StructField("k", LongType, nullable = false)))
    // the stepped key must surface as a dim ATTRIBUTE (a Project below
    // the join), not an expression in the join condition — the DFP
    // rule recognizes EqualTo(markerAttr, dimAttr) only
    def stepped(live: DataFrame): DataFrame =
      live.select(col("start_k"), step(col("k")).cast("long").as("k2"))
    // stepped keys for a DRIVER-SIDE frontier: a deterministic Project
    // over a LocalRelation folds at optimize time
    // (ConvertToLocalRelation), so this collect is a LocalTableScan —
    // no Spark job
    def steppedLocal(rows: Seq[Row]): Seq[(Long, Long)] = {
      val dim = spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r.getLong(0), r.getLong(1))): _*),
        dimSchema)
      stepped(dim).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    // stepped DISTINCT keys for the key-tree prefetch below
    def stepKeysLocal(ks: Seq[Long]): Seq[Long] = {
      val dim = spark.createDataFrame(
        java.util.Arrays.asList(ks.map(k => Row(0L, k)): _*), dimSchema)
      stepped(dim).collect().map(_.getLong(1)).toSeq.distinct
    }
    // level 0: the seed predicate collapses into the stats-pruned scan
    var frontier: Seq[Row] = vt.readWhere(seedCond)
      .select(col(keyCol).cast("long")).collect()
      .map(r => Row(r.getLong(0), r.getLong(0), 0)).toSeq
    // ---- batched multiplicity prefetch --------------------------------
    // `step` is a deterministic driver-evaluable expression
    // (steppedLocal already folds it over a LocalRelation), so every
    // key any level can possibly probe is computable UPFRONT from the
    // seeds: level d's candidates are step^d(seed keys), ≤ |seeds|
    // distinct values per level whether or not chains die early. One
    // stats/bloom-pruned scan then answers the multiplicity lookup for
    // ALL levels at once — the chase walks the levels driver-side
    // against the map, paying two jobs total (seed read + this lookup)
    // instead of one scan job per level; the spill path, caps, and
    // visited-node semantics are unchanged (a dead chain's stepped key
    // simply reads count 0 from the map, exactly as its per-level
    // lookup did). Guide §2.4 applied to scans: 12 pruned re-opens of
    // the table fold into one opening the union of admitting files.
    // guard: a seed frontier already past the cap goes straight to the
    // spill path — don't pay the key-tree walk + prefetch scan for a
    // map the chase loop would never consult (ADVICE r18)
    val batchedMult: Option[Map[Long, Long]] = if (frontier.length > frontierCap) None else {
      var ks = frontier.map(_.getLong(1)).distinct
      val all = scala.collection.mutable.LinkedHashSet.empty[Long]
      var d = 0
      var ok = true
      while (ok && d < maxDepth && ks.nonEmpty) {
        d += 1
        ks = stepKeysLocal(ks)
        all ++= ks
        // an oversized key tree would make the IN-list itself the
        // problem; hand those to the per-level loop / spill machinery
        if (all.size > frontierCap) ok = false
      }
      if (!ok) None
      else if (all.isEmpty) Some(Map.empty)
      else Some(vt.scan().filter(col(keyCol).isin(all.toSeq: _*))
        .groupBy(col(keyCol).cast("long").as("_k")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val visited = scala.collection.mutable.ArrayBuffer(frontier)
    var depth = 0
    var spilled: Option[DataFrame] = None // distributed fallback, if ever
    // oversized frontier (or fan-out): stop collecting, finish
    // distributed — the last collected frontier seeds a frame and the
    // remaining levels join frame-to-scan without driver hops; the
    // loop stops early when a level comes back empty (the chains died)
    def spill(from: Seq[Row], prevDepth: Int): Option[DataFrame] = {
      var live: DataFrame = frame(from)
        .select(col("start_k"), col("k")).localCheckpoint()
      var acc: Option[DataFrame] = None
      var d = prevDepth
      while (d < maxDepth && !live.isEmpty) {
        d += 1
        val nxt = vt.scan().join(stepped(live), col(keyCol) === col("k2"))
          .select(col("start_k"), col("k2").as("k"), lit(d).as("depth"))
          .localCheckpoint()
        acc = Some(acc.fold(nxt)(_.unionByName(nxt)))
        live = nxt.select("start_k", "k")
      }
      acc
    }
    while (frontier.nonEmpty && spilled.isEmpty && depth < maxDepth) {
      if (frontier.length > frontierCap) {
        spilled = spill(frontier, depth)
      } else {
        depth += 1
        // ONE tiny job per level: the frontier's stepped keys push as
        // an executed IN-list straight into the lazy scan
        // (Filter-over-marker collapses to the stats+bloom-pruned file
        // set), and the level resolves as an existence/multiplicity
        // lookup — no join, no optimizer-time derivation job. The
        // groupBy keeps general-table semantics: a key matching m rows
        // fans a chain out m-fold, exactly like the declarative
        // recursion's join
        val want = steppedLocal(frontier)
        val mult = batchedMult.getOrElse {
          val keys = want.map(_._2).distinct
          vt.scan().filter(col(keyCol).isin(keys: _*))
            .groupBy(col(keyCol).cast("long").as("_k")).count()
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        // the cap guards the EXPANSION too, not just the next collect:
        // a high-multiplicity key spills to the distributed path
        // instead of materializing (or Int-overflowing) its fan-out on
        // the driver — the fallback recomputes this level distributed
        val nextSize = want.iterator.map(p => mult.getOrElse(p._2, 0L)).sum
        if (nextSize > frontierCap) {
          spilled = spill(frontier, depth - 1)
        } else {
          frontier = want.flatMap { case (s, k2) =>
            Seq.fill(mult.getOrElse(k2, 0L).toInt)(Row(s, k2, depth))
          }
          visited += frontier
        }
      }
    }
    val collectedPart = frame(visited.toSeq.flatten)
    spilled.fold(collectedPart)(collectedPart.unionByName(_))
  }

  /** Contract query — the vtable twin of `q_recursive_cte` with the
    * SAME chain semantics (odd seeds ≤ 64, key-doubling steps, depth
    * cap 12), oracled by the identical recursive SQL over orders: file
    * pruning must never change WHICH nodes a chase visits. The
    * distributed fallback in [[chaseChains]] never triggers here (≤ 32
    * chains); TableRecursiveSpec separately proves each level's scan
    * opened a strict subset of the table's files.
    */
  def qRecursiveVtable(t: Tables): DataFrame = {
    val vt = VersionedTable(t.spark, builtTable(t))
    chaseChains(vt, "o_orderkey",
      col("o_orderkey") % 2 === 1 && col("o_orderkey") <= 64,
      step = _ * 2, maxDepth = 12)
      .groupBy("start_k")
      .agg(max("depth").as("chain_len"), count(lit(1)).as("n_nodes"))
      .orderBy("start_k")
  }
}
