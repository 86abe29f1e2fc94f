package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Iterative graph analytics as plain DataFrame ops — PageRank
  * (Brin/Page '98) over the per-user event-transition graph, the
  * "authority score" family a curation pipeline uses to weight
  * sources (CommonCrawl host-rank style) and a product analytics
  * service uses for navigation-flow importance.
  *
  * Scale design: one windowed pass builds the weighted edge list
  * (window partitioned by user — state bounded per user, no global
  * order); every iteration is edges ⋈ ranks → hash agg → left join
  * onto the node roster — shuffles keyed on node id, nothing
  * driver-side, the same join+agg shape as [[Dedup]]'s pointer
  * jumping. At 100 TB you add per-iteration `localCheckpoint` lineage
  * truncation exactly as `Dedup.connectedComponents` demonstrates;
  * the fixed-iteration contract query keeps the plan lazy instead so
  * construction stays action-free beyond the memoized edge build.
  *
  * Exactness design (what makes this ORACLE-able): ranks live as
  * integer quanta (1e-8ths). Every per-edge contribution is
  * `(r*w) div deg` — integer division — so per-node sums are
  * order-independent integer sums any engine reproduces bit-for-bit;
  * the damping step is integer arithmetic on the summed quanta. The
  * dangling-node mass leaks (the standard "leaky" variant) — both
  * sides compute the same leak. DuckDB can't aggregate inside a
  * recursive CTE, so the oracle unrolls the iterations as chained
  * CTEs ([[SparkEntry.pageRankOracle]]).
  */
object Graph {

  /** Rank quantum: ranks sum to ~Q across the graph. */
  val Q = 100000000L

  /** Weighted transition edges (src, dst, w, deg): consecutive `k`
    * values (props JSON) within a user's (ts, event_id)-ordered event
    * stream, aggregated to edge weights, with the source's total
    * out-weight attached. Built once per (session, corpus) and
    * persisted — every PageRank iteration re-reads it.
    */
  def edgesFor(t: Tables): DataFrame =
    edgeCache.getOrBuild(t) {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val tr = t.events
        .select(col("user_id"), col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("dst"))
        .filter(col("dst").isNotNull)
        .withColumn("src", lag("dst", 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val deg = tr.groupBy("src").agg(sum("w").as("deg"))
        .withColumnRenamed("src", "deg_src")
      tr.join(deg, col("src") === col("deg_src")).drop("deg_src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private val edgeCache = new graft.util.CorpusMemo[DataFrame](2, _.unpersist())

  /** `iters` rounds of quantized PageRank over (src, dst, w, deg)
    * edges. Returns (node, out_deg, rank_q); damping 0.85 as the
    * integer step `base + (85·S) div 100`.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame =
    pageRankLoop(edges, iters, checkpoint = false)

  /** [[pageRank]] with per-iteration lineage truncation — the 100 TB
    * posture the object scaladoc prescribes: each round's ranks are
    * eagerly `localCheckpoint`ed, so iteration i+1 joins edges against
    * a materialized RDD instead of the unrolled lazy lineage of every
    * prior round (whose plan depth — and optimizer time, and task
    * binary size — grows linearly with `iters`, and whose recompute-
    * on-failure cost grows quadratically). Rank-IDENTICAL to the lazy
    * form: the quanta arithmetic is integer and order-independent
    * (GraphSpec asserts frame equality and constant plan depth).
    * Superseded checkpoint blocks are released by Spark's context
    * cleaner once the previous iteration's frame is unreachable.
    */
  def pageRankCheckpointed(edges: DataFrame, iters: Int): DataFrame =
    pageRankLoop(edges, iters, checkpoint = true)

  private def pageRankLoop(edges: DataFrame, iters: Int,
      checkpoint: Boolean): DataFrame = {
    val nodes0 = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    // the roster is re-joined every iteration: pin it once in the
    // checkpointed regime (it also feeds the count below, which is
    // the job that materializes the lazy checkpoint's blocks)
    val nodes = if (checkpoint) nodes0.localCheckpoint(eager = false) else nodes0
    // node count as a driver literal: the roster is per-key tiny here;
    // at scale this is one count() on an already-persisted frame
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge set")
    val initQ = Q / n
    val baseQ = 15L * (Q / n) / 100L
    var r = nodes.withColumn("r", lit(initQ))
    for (_ <- 1 to iters) {
      val contrib = edges.join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("(r * w) div deg").as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(baseQ) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
      // LAZY checkpoints: the logical plan each iteration hands the
      // optimizer is a constant-depth LogicalRDD either way (the
      // property the checkpointed regime exists for), but eager
      // materialization paid one standalone job PER ITERATION —
      // lazily, iteration blocks persist inside whichever job first
      // computes them, so the whole loop settles in O(1) jobs while
      // keeping truncated lineage and linear recompute cost
      r = if (checkpoint) next.localCheckpoint(eager = false) else next
    }
    val deg = edges.groupBy("src").agg(sum("w").as("out_deg"))
      .withColumnRenamed("src", "node")
    r.join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        col("r").as("rank_q"))
  }

  /** Contract query: 5 PageRank iterations over the event-transition
    * graph, ranks as exact integer quanta. Runs the CHECKPOINTED form —
    * per-iteration lineage truncation is the 100 TB posture (constant
    * plan depth, linear recompute cost), GraphSpec proves it
    * rank-identical to the lazy loop, so the benched/oracled plan IS
    * the scale plan.
    */
  def qPageRank(t: Tables, iters: Int = 5): DataFrame =
    pageRankCheckpointed(edgesFor(t), iters).orderBy("node")
}
