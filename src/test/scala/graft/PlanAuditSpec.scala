package graft

/** Blanket plan audit over the ENTIRE driver contract: no query may
  * plan a cartesian product or nested-loop join unless it
  * intentionally broadcasts a tiny constant-size side (scalar
  * subqueries, fixed query sets, the 24-hour grid). Catches the
  * classic silent killer — a join whose equi-condition stopped being
  * recognized and degraded to NLJ — across all 55 queries at once.
  */
class PlanAuditSpec extends SparkSpecBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  // queries whose plan legitimately contains a broadcast nested-loop
  // join of a bounded-size side (≤ O(100) rows by construction)
  private val intentionalCross = Set(
    "q_scalar_subquery", // 1-row global avg
    "q11_important_parts", // 1-row grand-total threshold
    "q22_idle_customers",  // 1-row rounded avg-balance threshold
    "q_ann_bruteforce",  // 3-row query set
    "q_hard_negatives",  // same 3-row query set, band-filtered
    "q_text_ann",        // 3-row hash-embedded query set
    "q_hybrid_rrf",      // same 3-row query set (dense arm of the fusion)
    "q_maxsim",          // 4-row query-token set (late interaction)
    "q_maxsim_ivf",      // same 4-row query set, IVF-pruned candidates
    "q_ann_ivf",         // k-row centroid table
    "q_ann_pq",          // 3-row query-ordinal frame fanning out the ADC batch
    "q_ann_ivfpq",       // k-row centroid table + same ordinal frame
    "q_semdedup",        // same k-row centroid table (index-build lineage)
    "q_cluster_topics",  // same k-row centroid table (assignment pass)
    "q_approx_distinct", // 1-row exact-count audit side (bound verification)
    "q_sketch_sidecars", // 1-row metadata-estimate decision × 1-row audits
    "q_cosine_pairs",    // label-blocked; AQE may plan tiny side as BNLJ? keep strict below
    "q_tfidf",           // 1-row n_docs
    "q_bm25",            // 1-row (n_docs, avgdl) corpus stats
    "q_text_index_bm25", // same 1-row corpus stats, from the index ledger
    "q_resample",        // |types| x 24 grid
    "q_ntile_scaled",    // 1-row quartile cut points
    "q_nb_filter",       // 1-row label median + 1-row model scalars
    "q_dsir_select",     // 1-row vocab/total scalars
    "q_lm_score"         // 1-row vocab scalar
  )

  test("no unintentional cartesian/nested-loop joins in any contract query") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
      val cartesian = plan.contains("CartesianProduct")
      val nlj = plan.contains("BroadcastNestedLoopJoin")
      if (cartesian) Some(s"$name: CartesianProduct")
      else if (nlj && !intentionalCross(name)) Some(s"$name: BroadcastNestedLoopJoin")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the intentionalCross allowlist's non-equi join sides are actually bounded") {
    // each allowlist entry claims its nested-loop side is <= O(100)
    // rows BY CONSTRUCTION — machine-check the claim instead of
    // trusting the comment: for every optimized-plan join with no
    // cross-side equi key, the SMALLER side must actually count under
    // the bound at audit SF (a constant-size side stays constant; a
    // corpus-shaped side would already dwarf it here)
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val Bound = 200L
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o         => Seq(o)
    }
    val offenders = intentionalCross.toSeq.sorted.flatMap { name =>
      val fn = SparkEntry.queries(name)
      val plan = fn(spark, TestSpark.sfDir).queryExecution.optimizedPlan
      val loose = plan.collectWithSubqueries {
        case j: Join =>
          val hasEqui = j.condition.exists(c => conjuncts(c).exists {
            case EqualTo(l, r) => splitsAcross(j, l, r)
            case EqualNullSafe(l, r) => splitsAcross(j, l, r)
            case _ => false
          })
          if (hasEqui) None else Some(j)
      }.flatten
      loose.flatMap { j =>
        val minSide = Seq(j.left, j.right).map(side =>
          org.apache.spark.sql.GraftSqlBridge.ofRows(spark, side).count()).min
        if (minSide > Bound)
          Some(s"$name: non-equi join whose smaller side is $minSide rows (> $Bound)")
        else None
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // a genuine equi KEY pulls references from BOTH children (a
  // literal comparison has an empty side and blocks nothing)
  private def splitsAcross(j: org.apache.spark.sql.catalyst.plans.logical.Join,
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    (l.references.nonEmpty && r.references.nonEmpty) &&
      ((l.references.subsetOf(j.left.outputSet) &&
        r.references.subsetOf(j.right.outputSet)) ||
        (r.references.subsetOf(j.left.outputSet) &&
          l.references.subsetOf(j.right.outputSet)))

  // Queries whose served plan legitimately contains a GLOBAL
  // (partition-less) window, each with its bound proof — the input is
  // O(constant) or O(dims) rows BY CONSTRUCTION, never corpus-scale.
  // Anything else planning a partition-less window fails the audit:
  // the bench log's recurring benign WindowExec warnings would
  // otherwise mask a real single-partition total order sneaking in.
  private val boundedGlobalWindows = Map(
    // two-level prefix sums: the global window ranks the BLOCK ROSTER
    // (n/BlockSize rows, Pretrain.withStart), never the docs
    "q_pack_sequences" -> "block roster of n/8192 rows",
    "q_pack_bpe" -> "block roster of n/8192 rows",
    // same two-level shape over exactly 64 hash buckets
    "q_shuffle_order" -> "bucket roster of <=65 rows",
    // grand-total over PER-LANGUAGE counts (|langs| rows, single digits)
    "q_domain_mix" -> "per-lang count frame",
    "q_mix_upsample" -> "per-lang count frame",
    // deliberate dim-scale total order, documented at the operator;
    // its fact-scale twin is q_ntile_scaled (pre-computed cut points)
    "q_ntile" -> "dim-scale by contract; scale twin q_ntile_scaled")

  test("no contract query plans an unbounded partition-less window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, WindowGroupLimit}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, TestSpark.sfDir).queryExecution.optimizedPlan
      val globals = plan.collectWithSubqueries {
        case w: LWindow if w.partitionSpec.isEmpty          => w.nodeName
        case w: WindowGroupLimit if w.partitionSpec.isEmpty => w.nodeName
      }
      if (globals.nonEmpty && !boundedGlobalWindows.contains(name))
        Some(s"$name: ${globals.mkString(",")}")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every query's plan prunes the parquet scan to referenced columns") {
    // spot the worst smell: a scan with the full 16-col lineitem schema
    // in a query that uses a handful
    val fullLineitem = "l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity," +
      "l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, TestSpark.sfDir).queryExecution.executedPlan.toString
      if (plan.contains(fullLineitem.replace(",", ":bigint,"))) Some(name) else None
    }
    assert(offenders.isEmpty, s"unpruned lineitem scans: $offenders")
  }

  test("the edit-join rewrite's verify filter stays above its dedup aggregate") {
    // EdJoinRewrite gates the threshold-levenshtein verify on the
    // dedup Aggregate's count so predicate pushdown cannot move it back
    // into the candidate joins, where it would run once per blocking-key
    // match. Pin that shape: an optimizer change that folds the If must
    // fail here rather than silently bring the per-match verify back.
    import org.apache.spark.sql.catalyst.expressions.{Expression, If, Levenshtein, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    import spark.implicits._
    Seq((1L, "alpha"), (2L, "alphb"), (3L, "gamma"), (4L, "betablocker"))
      .toDF("id", "s").createOrReplaceTempView("audit_edj_a")
    Seq((11L, "alpha"), (12L, "gamm"), (13L, "betablockr"))
      .toDF("id", "s").createOrReplaceTempView("audit_edj_b")
    def isVerify(e: Expression): Boolean = e match {
      case l: Levenshtein => l.threshold.isDefined
      case _ => false
    }
    Seq(1, 2).foreach { d =>
      val plan = spark.sql(
        s"""SELECT a.id AS a_id, b.id AS b_id FROM audit_edj_a a
           |JOIN audit_edj_b b ON levenshtein(a.s, b.s) <= $d""".stripMargin)
        .queryExecution.optimizedPlan
      val verifies = plan.collect { case f: Filter if f.condition.exists(isVerify) => f }
      assert(verifies.size == 1, s"d=$d: expected one verify filter:\n$plan")
      verifies.head match {
        case Filter(If(gate, verify, Literal(false, _)), _: Aggregate)
            if gate.references.exists(_.name == "__graft_edj_cnt") &&
              verify.exists(isVerify) => ()
        case other => fail(s"d=$d: verify is not the count-gated If over the dedup:\n$other")
      }
      val sunk = plan.collect {
        case j: Join if j.condition.exists(_.exists(isVerify)) => j
      }
      assert(sunk.isEmpty, s"d=$d: verify pushed into a candidate join:\n$plan")
    }
  }

  test("a literal-only statement plans a local table; one-row subqueries, binds and failing literals keep theirs") {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val lit = spark.sql("SELECT 1 AS one").queryExecution.executedPlan.toString
    assert(lit.contains("LocalTableScan") && !lit.contains("OneRowRelation"), lit)
    // Spark's OptimizeOneRowRelationSubquery still folds a correlated
    // one-row subquery into its outer projection
    val corr = spark.sql("SELECT (SELECT t.id + 1) AS x FROM range(3) t")
    val plan = corr.queryExecution.optimizedPlan
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression]))),
      s"the one-row subquery was not inlined:\n$plan")
    assert(corr.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // Spark evaluates bind values by optimizing a bare constant
    // projection and reading it back as a Project
    assert(spark.sql("SELECT :k + 1 AS x", Map[String, Any]("k" -> 3L)).head().getLong(0) == 4L)
    // a literal that fails to evaluate plans as before: EXPLAIN answers,
    // execution raises
    val failing = "SELECT raise_error('boom') AS x"
    assert(spark.sql(s"EXPLAIN $failing").head().getString(0).contains("OneRowRelation"))
    val boom = intercept[Exception](spark.sql(failing).collect())
    assert(boom.getMessage.contains("boom"), boom.getMessage)
  }

  test("literal-only statements and manifest-answered counts collect with zero Spark jobs") {
    import spark.implicits._
    val meter = graft.tools.StageMeter(spark)
    try {
      val svc = new graft.service.QueryService(spark)
      val one = meter.phase("audit-literal")(
        assert(svc.sqlJson("SELECT 1 AS one") == Seq("""{"one":1}""")))
      assert(one.jobs == 0, s"SELECT 1 AS one started ${one.jobs} job(s)")
      val t = graft.sources.VersionedTable(spark,
        java.nio.file.Files.createTempDirectory("graft-audit").toString + "/t")
      t.append(Seq(1L, 2L, 3L).toDF("k"))
      t.scan().createOrReplaceTempView("audit_meta_count")
      val cnt = meter.phase("audit-meta-count")(assert(
        svc.sql("SELECT count(*) AS n FROM audit_meta_count").collect().head.getLong(0) == 3L))
      assert(cnt.jobs == 0, s"a manifest-answered count started ${cnt.jobs} job(s)")
    } finally spark.sparkContext.removeSparkListener(meter)
  }

  test("comparison constants leave generated code but not scans: pushed filters and vtable pruning keep them") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-audit-lit").toString + "/p"
    spark.range(100).selectExpr("id AS k").coalesce(1).write.parquet(dir)
    val point = spark.read.parquet(dir).where($"k" === 42L)
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(42L))
    val plan = point.queryExecution.executedPlan
    val pushed = collect(plan) { case s: FileSourceScanExec => s.metadata("PushedFilters") }
    assert(pushed == Seq("[IsNotNull(k), EqualTo(k,42)]"), pushed)
    assert(collect(plan) { case f: FilterExec => f }
      .exists(_.condition.exists(_.isInstanceOf[graft.plans.ReferencedLiteral])),
      s"the filter above the scan inlines its constant:\n$plan")
    // a vtable point lookup still prunes to the one file holding its key
    val t = graft.sources.VersionedTable(spark,
      java.nio.file.Files.createTempDirectory("graft-audit-lit").toString + "/t")
    (0 until 6).foreach(i => t.append(
      Seq.tabulate(20)(j => (i * 100L + j, s"r$i-$j")).toDF("id", "name").coalesce(1)))
    t.scan().createOrReplaceTempView("audit_lit_vt")
    val lookup = spark.sql("SELECT name FROM audit_lit_vt WHERE id = :k", Map[String, Any]("k" -> 305L))
    assert(lookup.collect().map(_.getString(0)).toSeq == Seq("r3-5"))
    val files = collect(lookup.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.inputFiles.length
    }.sum
    assert(files == 1, s"the point lookup opened $files of 6 files")
  }
}
