package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions
import graft.multimodal.Media
import graft.operators.{AsofJoin, Curate, Decontam, Dedup, Pretrain, Profile, RangeJoin, Relational, Sessionize, Similarity, TextAnalysis}
import graft.sources.Tables

/** Driver contract — see SURVEY.md §2 for the inventory each entry
  * backs. Every SQL-expressible query has a DuckDB oracle in
  * `oracleSql` with IDENTICAL column aliases, a deterministic ORDER
  * BY, and round(_, 2|4) on floating aggregates; non-SQL-expressible
  * operators (LSH internals, custom fingerprints, multimodal) are
  * rows-only here and property-tested in ScalaTest.
  */
object SparkEntry {

  /** DuckDB can't aggregate inside a recursive CTE, so the PageRank
    * oracle unrolls its fixed iterations as chained CTEs — each one
    * the exact integer step `graft.operators.Graph.pageRank` takes
    * (quantized ranks, `//` floor division on non-negative values ==
    * Spark's `div`, sums of integers so order can't matter).
    */
  private def pageRankOracle(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.node, (SELECT baseq FROM consts) + (85 * coalesce(s.s, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, cast(sum((r.r * e.w) // d.deg) AS BIGINT) AS s
         |    FROM ed e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON r.node = e.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ke AS (
       |  SELECT user_id, ts, event_id,
       |         cast(json_extract_string(props, '$$.k') AS INTEGER) AS dst
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |tr AS (
       |  SELECT lag(dst) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src, dst
       |  FROM ke),
       |ed AS (
       |  SELECT src, dst, cast(count(*) AS BIGINT) AS w
       |  FROM tr WHERE src IS NOT NULL GROUP BY src, dst),
       |deg AS (SELECT src, cast(sum(w) AS BIGINT) AS deg FROM ed GROUP BY src),
       |nodes AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
       |consts AS (SELECT 100000000 // count(*) AS initq,
       |                  (15 * (100000000 // count(*))) // 100 AS baseq
       |           FROM nodes),
       |r0 AS (SELECT node, (SELECT initq FROM consts) AS r FROM nodes),
       |$steps
       |SELECT n.node, cast(coalesce(d.deg, 0) AS BIGINT) AS out_deg,
       |       cast(r.r AS BIGINT) AS rank_q
       |FROM nodes n JOIN r$iters r ON n.node = r.node
       |LEFT JOIN deg d ON n.node = d.src
       |ORDER BY n.node""".stripMargin
  }

  private def t(spark: SparkSession, sfDir: String): Tables = {
    GraftFunctions.register(spark) // idempotent; for sessions GraftSession did not build
    Tables(spark, sfDir)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(t(spark, "/root/testdata/sf0.001"))

  /** Serving-index builds a deployment amortizes across queries —
    * train once, probe many. Bench runs these at the TARGET corpus
    * before its timed pass and reports their cost separately
    * (`index_build` in the artifact), so the ANN query numbers measure
    * the probe/ADC/re-rank serving path, not Lloyd training — while
    * the training cost itself stays visible instead of hiding inside
    * whichever ANN query happened to run first. Verify does NOT run
    * these: the correctness gate exercises build+probe together, as a
    * cold client would. Each build forces materialization (the memos
    * persist lazily).
    */
  val indexWarmups: Map[String, (SparkSession, String) => Unit] = Map(
    "ivf" -> ((s, d) => {
      graft.operators.Similarity.corpusIndex(t(s, d)).assigned.count(); ()
    }),
    "pq" -> ((s, d) => {
      val m = graft.operators.Pq.corpusPq(t(s, d))
      m.codebooks.count(); m.codes.count(); ()
    }),
    // on-disk ingest indexes: the build is a one-time corpus cost the
    // artifact should report, not fold into the first probe's timing
    "dedup_lsh" -> ((s, d) => {
      graft.operators.DedupIndex.corpusIndexDir(t(s, d)); ()
    }),
    "span_idx" -> ((s, d) => {
      graft.operators.SpanIndex.corpusIndexDir(t(s, d)); ()
    }),
    "text_idx" -> ((s, d) => {
      graft.operators.TextIndex.corpusIndexDir(t(s, d)); ()
    }),
    "semdedup_idx" -> ((s, d) => {
      graft.operators.SemDedupIndex.corpusIndexDir(t(s, d)); ()
    }),
    // the memoized n-gram candidate-pair table + CC label build every
    // near-dup roster query rides (qDupClusters/qDedupNear/
    // qDedupKeepBest/qLeakageSafeSplit): one corpus-level build, four
    // consumers — timing it inside whichever roster query ran first
    // mis-attributed ~9% of the whole bench to a 0.2 s-class query
    "ngram_cc" -> ((s, d) => {
      graft.operators.Dedup.corpusDupLabels(t(s, d)).count(); ()
    }),
    // the per-corpus persisted edge table every PageRank iteration
    // re-reads (one windowed pass over events): same one-time-build
    // attribution as ivf/pq/ngram_cc — the timed query measures the
    // iterations, the build cost stays on the record under index_build
    "pagerank_edges" -> ((s, d) => {
      graft.operators.Graph.edgesFor(t(s, d)).count(); ()
    }),
    // the recursive-chase contract fixture (one clustered vtable
    // append per corpus): billed here so the timed query measures the
    // per-level pruned chase, not tempdir table construction
    "trec_fixture" -> ((s, d) => graft.sources.TableRecursive.builtTable(t(s, d))),
    // the bloom-indexed point-lookup fixture (8-file append + bloom
    // sidecars): one-time corpus cost; the timed query measures the
    // sidecar-pruned lookup itself
    "bloom_fixture" -> ((s, d) => graft.sources.TableBloom.builtTable(t(s, d))),
    // the remaining memoized vtable fixtures — each a one-time
    // multi-commit corpus cost the artifact should report, not fold
    // into whichever table query ran first alphabetically (q_vtable_dfp
    // billed the whole TableSkip fixture at 1.1 s against a 0.1 s-class
    // lookup; same misattribution class the SQL-DML trio had in r11)
    "tmerge_fixture" -> ((s, d) => graft.sources.TableMerge.builtTable(t(s, d))),
    "tbranch_fixture" -> ((s, d) => graft.sources.TableBranch.builtTable(t(s, d))),
    "treplace_fixture" -> ((s, d) => graft.sources.TableReplace.builtTable(t(s, d))),
    "tclone_fixture" -> ((s, d) => graft.sources.TableClone.builtTables(t(s, d))),
    "tcopy_fixture" -> ((s, d) => graft.sources.TableCopyInto.builtTable(t(s, d))),
    "tevolve_fixture" -> ((s, d) => graft.sources.TableEvolve.builtTable(t(s, d))),
    "tmapping_fixture" -> ((s, d) => graft.sources.TableMapping.builtTable(t(s, d))),
    "tskip_fixture" -> ((s, d) => {
      val tt = t(s, d)
      graft.sources.TableSkip.builtTable(tt); graft.sources.TableSkip.builtKeys(tt); ()
    }),
    // SQL-DML fixtures: multi-commit temp-vtable builds (append +
    // statement commits) that dominated the timed numbers —
    // q_sql_merge_general billed 3.6 s, ~90% of it this build. Like
    // ngram_cc/pq, the one-time corpus cost reports under index_build
    // and the timed entries measure the committed-snapshot serving read
    "sqldml_fixture" -> ((s, d) => graft.service.SqlDmlDemo.builtTable(t(s, d))),
    "sqlgm_fixture" -> ((s, d) => graft.service.SqlMergeGeneralDemo.builtTable(t(s, d))),
    "sqlins_fixture" -> ((s, d) => graft.service.SqlInsertDemo.builtTable(t(s, d))),
    "sqlbw_fixture" -> ((s, d) => graft.service.SqlBranchWriteDemo.builtTable(t(s, d))),
    "infocons_fixture" -> ((s, d) => graft.service.InfoSchema.consService(t(s, d))),
    // the maintained SCD2 dimension q_scd2_pit's as-of read serves
    // from: the inline rebuild billed full dimension maintenance to a
    // point-in-time READ every round (127x the oracle in r17's RATIOS
    // decomposition) — same attribution split as infocons_fixture
    "scd2pit_fixture" -> ((s, d) => graft.operators.Merge.scd2DimPath(t(s, d))),
    "export_fixture" -> ((s, d) => graft.service.ExportDemo.builtExport(t(s, d))),
    "semdecon_fixture" -> ((s, d) => graft.operators.SemDecontam.benchIndexDir(t(s, d))),
    "sketch_fixture" -> ((s, d) => graft.sources.TableSketch.builtTable(t(s, d))),
    // the next fixture-dominated class after the SQL-DML trio: the
    // CDF/apply/mview fixtures commit 3-6 times each before the timed
    // query reads the feed/result — same attribution split
    "cdf_fixture" -> ((s, d) => graft.sources.TableCdf.builtTable(t(s, d))),
    "apply_fixture" -> ((s, d) => graft.sources.TableApply.builtTable(t(s, d))),
    "mview_fixture" -> ((s, d) => graft.sources.MviewDemo.builtView(t(s, d))),
    "sqlmv_fixture" -> ((s, d) => graft.service.SqlMviewDemo.builtView(t(s, d))),
    "mview_cdf_fixture" -> ((s, d) => graft.sources.MviewCdfDemo.builtView(t(s, d))),
    "mview_branch_fixture" -> ((s, d) => graft.sources.MviewBranchDemo.builtView(t(s, d))))

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 relational core
    "q1_pricing_summary" -> ((s, d) => Relational.q1PricingSummary(t(s, d))),
    "q6_filter_agg" -> ((s, d) => Relational.q6FilterAgg(t(s, d))),
    "q3_shipping_priority" -> ((s, d) => Relational.q3ShippingPriority(t(s, d))),
    "q5_local_supplier" -> ((s, d) => Relational.q5LocalSupplier(t(s, d))),
    "q_having" -> ((s, d) => Relational.qHaving(t(s, d))),
    "q_outer_join" -> ((s, d) => Relational.qOuterJoin(t(s, d))),
    "q_full_outer" -> ((s, d) => Relational.qFullOuter(t(s, d))),
    "q_semi_join" -> ((s, d) => Relational.qSemiJoin(t(s, d))),
    "q_anti_join" -> ((s, d) => Relational.qAntiJoin(t(s, d))),
    "q_scalar_subquery" -> ((s, d) => Relational.qScalarSubquery(t(s, d))),
    "q17_small_qty" -> ((s, d) => Relational.q17SmallQty(t(s, d))),
    "q18_large_orders" -> ((s, d) => Relational.q18LargeOrders(t(s, d))),
    "q7_nation_volume" -> ((s, d) => Relational.q7NationVolume(t(s, d))),
    "q20_heavy_part_suppliers" -> ((s, d) => Relational.q20HeavyPartSuppliers(t(s, d))),
    "q8_market_share" -> ((s, d) => Relational.q8MarketShare(t(s, d))),
    "q9_product_profit" -> ((s, d) => Relational.q9ProductProfit(t(s, d))),
    "q10_returned_items" -> ((s, d) => Relational.q10ReturnedItems(t(s, d))),
    "q11_important_parts" -> ((s, d) => Relational.q11ImportantParts(t(s, d))),
    "q14_promo_revenue" -> ((s, d) => Relational.q14PromoRevenue(t(s, d))),
    "q15_top_supplier" -> ((s, d) => Relational.q15TopSupplier(t(s, d))),
    "q2_min_bal_supplier" -> ((s, d) => Relational.q2MinBalSupplier(t(s, d))),
    "q4_priority_check" -> ((s, d) => Relational.q4PriorityCheck(t(s, d))),
    "q12_late_shipments" -> ((s, d) => Relational.q12LateShipments(t(s, d))),
    "q13_order_distribution" -> ((s, d) => Relational.q13OrderDistribution(t(s, d))),
    "q16_supplier_counts" -> ((s, d) => Relational.q16SupplierCounts(t(s, d))),
    "q19_disjunctive" -> ((s, d) => Relational.q19Disjunctive(t(s, d))),
    "q21_waiting_supplier" -> ((s, d) => Relational.q21WaitingSupplier(t(s, d))),
    "q22_idle_customers" -> ((s, d) => Relational.q22IdleCustomers(t(s, d))),
    "q_profile" -> ((s, d) => Profile.qProfile(t(s, d))),
    "q_constraints" -> ((s, d) => Profile.qConstraints(t(s, d))),
    "q_topk_orders" -> ((s, d) => Relational.qTopkOrders(t(s, d))),
    "q_distinct_segments" -> ((s, d) => Relational.qDistinctSegments(t(s, d))),
    "q_union" -> ((s, d) => Relational.qUnion(t(s, d))),
    "q_except" -> ((s, d) => Relational.qExcept(t(s, d))),
    "q_intersect" -> ((s, d) => Relational.qIntersect(t(s, d))),
    "q_window_topn" -> ((s, d) => Relational.qWindowTopn(t(s, d))),
    "q_topk_pergroup" -> ((s, d) => Relational.qTopkPerGroup(t(s, d))),
    "q_window_running" -> ((s, d) => Relational.qWindowRunning(t(s, d))),
    "q_window_lag" -> ((s, d) => Relational.qWindowLag(t(s, d))),
    "q_window_range" -> ((s, d) => Relational.qWindowRange(t(s, d))),
    "q_rollup" -> ((s, d) => Relational.qRollup(t(s, d))),
    "q_grouping_sets" -> ((s, d) => Relational.qGroupingSets(t(s, d))),
    "q_ntile" -> ((s, d) => Relational.qNtile(t(s, d))),
    "q_ntile_scaled" -> ((s, d) => Relational.qNtileScaled(t(s, d))),
    "q_first_last" -> ((s, d) => Relational.qFirstLast(t(s, d))),
    "q_cube" -> ((s, d) => Relational.qCube(t(s, d))),
    "q_pivot_status" -> ((s, d) => Relational.qPivotStatus(t(s, d))),
    "q_pivot_wide" -> ((s, d) => Relational.qPivotWide(t(s, d))),
    "q_unpivot" -> ((s, d) => Relational.qUnpivot(t(s, d))),
    "q_case_when" -> ((s, d) => Relational.qCaseWhen(t(s, d))),
    "q_events_hourly" -> ((s, d) => Relational.qEventsHourly(t(s, d))),
    "q_resample" -> ((s, d) => Relational.qResample(t(s, d))),
    "q_ohlc" -> ((s, d) => Relational.qOhlc(t(s, d))),
    "q_funnel" -> ((s, d) => Relational.qFunnel(t(s, d))),
    "q_string_funcs" -> ((s, d) => Relational.qStringFuncs(t(s, d))),
    "q_events_json" -> ((s, d) => Relational.qEventsJson(t(s, d))),
    "q_sessionize" -> ((s, d) => Sessionize.qSessionize(t(s, d))),
    "q_session_window" -> ((s, d) => Sessionize.qSessionWindow(t(s, d))),
    "q_asof_join" -> ((s, d) => AsofJoin.qAsofJoin(t(s, d))),
    "q_asof_tvf" -> ((s, d) => AsofJoin.qAsofTvf(t(s, d))),
    "q_salted_join" -> ((s, d) => graft.operators.Skew.qSaltedJoin(t(s, d))),
    "q_range_join" -> ((s, d) => RangeJoin.qRangeJoin(t(s, d))),
    "q_sql_cte" -> ((s, d) => Relational.qSqlCte(t(s, d))),
    "q_group_by_all" -> ((s, d) => Relational.qGroupByAll(t(s, d))),
    "q_recursive_cte" -> ((s, d) => Relational.qRecursiveCte(t(s, d))),
    "q_recursive_vtable" -> ((s, d) => graft.sources.TableRecursive.qRecursiveVtable(t(s, d))),
    "q_lateral_topn" -> ((s, d) => Relational.qLateralTopn(t(s, d))),
    "q_sample_mod" -> ((s, d) => Relational.qSampleMod(t(s, d))),
    "q_approx_distinct" -> ((s, d) => Relational.qApproxDistinct(t(s, d))),
    "q_hll_sketch" -> ((s, d) => Relational.qHllSketch(t(s, d))),
    "q_kll_quantiles" -> ((s, d) => Relational.qKllQuantiles(t(s, d))),
    "q_theta_overlap" -> ((s, d) => Relational.qThetaOverlap(t(s, d))),
    "q_percentile" -> ((s, d) => Relational.qPercentile(t(s, d))),
    "q_percentile_approx" -> ((s, d) => Relational.qPercentileApprox(t(s, d))),
    "q_stats_agg" -> ((s, d) => Relational.qStatsAgg(t(s, d))),
    "q_histogram" -> ((s, d) => Relational.qHistogram(t(s, d))),
    "q_anomaly" -> ((s, d) => Relational.qAnomaly(t(s, d))),
    "q_distinct_cond" -> ((s, d) => Relational.qDistinctCond(t(s, d))),
    "q_array_funcs" -> ((s, d) => Similarity.qArrayFuncs(t(s, d))),
    "q_cohort_retention" -> ((s, d) => Relational.qCohortRetention(t(s, d))),
    "q_pagerank" -> ((s, d) => graft.operators.Graph.qPageRank(t(s, d))),
    "q_quantize_error" -> ((s, d) => graft.operators.Quantize.qQuantizeError(t(s, d))),
    "q_collect_statuses" -> ((s, d) => Relational.qCollectStatuses(t(s, d))),
    // §2.3 dedup
    "q_dedup_exact" -> ((s, d) => Dedup.qDedupExact(t(s, d))),
    "q_url_dedup" -> ((s, d) => Dedup.qUrlDedup(t(s, d))),
    "q_dedup_keep_first" -> ((s, d) => Dedup.qDedupKeepFirst(t(s, d))),
    "q_ngram_jaccard" -> ((s, d) => Dedup.qNgramJaccard(t(s, d))),
    "q_span_dedup" -> ((s, d) => Dedup.qSpanDedup(t(s, d))),
    "q_span_containment" -> ((s, d) => Dedup.qSpanContainment(t(s, d))),
    "q_cross_source_overlap" -> ((s, d) => Dedup.qCrossSourceOverlap(t(s, d))),
    "q_dup_clusters" -> ((s, d) => Dedup.qDupClusters(t(s, d))),
    "q_leakage_split" -> ((s, d) => Dedup.qLeakageSafeSplit(t(s, d))),
    "q_dedup_near" -> ((s, d) => Dedup.qDedupNear(t(s, d))),
    "q_dedup_keep_best" -> ((s, d) => Dedup.qDedupKeepBest(t(s, d))),
    "q_minhash_lsh" -> ((s, d) => Dedup.qMinhashLsh(t(s, d))),
    // rows-only: incremental ingest over the persisted LSH band index
    "q_dedup_ingest" -> ((s, d) => graft.operators.DedupIndex.qDedupIngest(t(s, d))),
    "q_span_ingest" -> ((s, d) => graft.operators.SpanIndex.qSpanIngest(t(s, d))),
    "q_simhash" -> ((s, d) => Dedup.qSimhash(t(s, d))),
    "q_embed_neardup" -> ((s, d) => Dedup.qEmbedNeardup(t(s, d))),
    "q_dedup_fuzzy" -> ((s, d) => Dedup.qDedupFuzzy(t(s, d))),
    "q_line_dedup" -> ((s, d) => Dedup.qLineDedup(t(s, d))),
    // rows-only: k-means cell blocking isn't SQL-expressible;
    // SemDedupSpec bounds precision/recall vs brute force
    "q_semdedup" -> ((s, d) => Dedup.qSemDedup(t(s, d))),
    "q_semdedup_ingest" -> ((s, d) => graft.operators.SemDedupIndex.qSemDedupIngest(t(s, d))),
    // §2.3b pretraining batch prep (packing / shuffle order / mixing)
    "q_pack_sequences" -> ((s, d) => Pretrain.qPackSequences(t(s, d))),
    "q_pack_bpe" -> ((s, d) => Pretrain.qPackBpe(t(s, d))),
    "q_shuffle_order" -> ((s, d) => Pretrain.qShuffleOrder(t(s, d))),
    "q_domain_mix" -> ((s, d) => Pretrain.qDomainMix(t(s, d))),
    "q_mix_upsample" -> ((s, d) => Pretrain.qMixUpsample(t(s, d))),
    "q_dsir_select" -> ((s, d) => Pretrain.qDsirSelect(t(s, d))),
    "q_chunk_docs" -> ((s, d) => Pretrain.qChunkDocs(t(s, d))),
    "q_nb_filter" -> ((s, d) => graft.operators.NbFilter.qNbFilter(t(s, d))),
    "q_lm_score" -> ((s, d) => graft.operators.LmScore.qLmScore(t(s, d))),
    "q_drift" -> ((s, d) => graft.operators.Drift.qDrift(t(s, d))),
    // §2.4 similarity
    "q_ann_bruteforce" -> ((s, d) => Similarity.qAnnBruteforce(t(s, d))),
    "q_maxsim" -> ((s, d) => Similarity.qMaxSim(t(s, d))),
    "q_hard_negatives" -> ((s, d) => Similarity.qHardNegatives(t(s, d))),
    // rows-only: the hash-embedding is a custom expression
    "q_text_ann" -> ((s, d) => Similarity.qTextAnn(t(s, d))),
    "q_ann_lsh" -> ((s, d) => Similarity.qAnnLsh(t(s, d))),
    "q_ann_ivf" -> ((s, d) => Similarity.qAnnIvf(t(s, d))),
    "q_ann_pq" -> ((s, d) => graft.operators.Pq.qAnnPq(t(s, d))),
    "q_ann_ivfpq" -> ((s, d) => graft.operators.Pq.qAnnIvfPq(t(s, d))),
    "q_cosine_pairs" -> ((s, d) => Similarity.qCosinePairs(t(s, d))),
    "q_hybrid_rrf" -> ((s, d) => Similarity.qHybridRrf(t(s, d))),
    "q_label_centroids" -> ((s, d) => Similarity.qLabelCentroids(t(s, d))),
    // §2.5 text analysis
    "q_token_count" -> ((s, d) => TextAnalysis.qTokenCount(t(s, d))),
    // rows-only: corpus-trained BPE vocabulary isn't SQL-expressible
    "q_bpe_tokens" -> ((s, d) => TextAnalysis.qBpeTokens(t(s, d))),
    "q_bpe_fertility" -> ((s, d) => TextAnalysis.qBpeFertility(t(s, d))),
    "q_bpe_roundtrip" -> ((s, d) => TextAnalysis.qBpeRoundtrip(t(s, d))),
    "q_quality_score" -> ((s, d) => TextAnalysis.qQualityScore(t(s, d))),
    "q_lang_id" -> ((s, d) => TextAnalysis.qLangId(t(s, d))),
    "q_fingerprint" -> ((s, d) => TextAnalysis.qFingerprint(t(s, d))),
    "q_term_stats" -> ((s, d) => TextAnalysis.qTermStats(t(s, d))),
    "q_heavy_hitters" -> ((s, d) => TextAnalysis.qHeavyHitters(t(s, d))),
    "q_tfidf" -> ((s, d) => TextAnalysis.qTfidf(t(s, d))),
    "q_bm25" -> ((s, d) => TextAnalysis.qBm25(t(s, d))),
    "q_text_search" -> ((s, d) => graft.operators.TextIndex.qTextSearch(t(s, d))),
    "q_edit_join" -> ((s, d) => graft.operators.FuzzyJoin.qEditJoin(t(s, d))),
    "q_range_join_sql" -> ((s, d) => RangeJoin.qRangeJoinSql(t(s, d))),
    "q_edit_join_sql" -> ((s, d) => graft.operators.FuzzyJoin.qEditJoinSql(t(s, d))),
    "q_edit_join_sql2" -> ((s, d) => graft.operators.FuzzyJoin.qEditJoinSql2(t(s, d))),
    "q_text_index_bm25" -> ((s, d) => graft.operators.TextIndex.qTextIndexBm25(t(s, d))),
    "q_phrase_search" -> ((s, d) => graft.operators.TextIndex.qPhraseSearch(t(s, d))),
    "q_near_search" -> ((s, d) => graft.operators.TextIndex.qNearSearch(t(s, d))),
    "q_text_tvf" -> ((s, d) => graft.operators.TextIndex.qTextTvf(t(s, d))),
    "q_entropy" -> ((s, d) => TextAnalysis.qEntropy(t(s, d))),
    // §2.6 multimodal: q_media_features exercises the fake-decoder
    // plumbing harness; image/frame/audio decode are REAL (JDK
    // ImageIO + PCM)
    "q_media_features" -> ((s, d) => Media.qMediaFeatures(t(s, d))),
    "q_image_features" -> ((s, d) => Media.qImageFeatures(t(s, d))),
    "q_frame_sample" -> ((s, d) => Media.qFrameSample(t(s, d))),
    "q_frame_sample_gif" -> ((s, d) => Media.qFrameSampleGif(t(s, d))),
    "q_audio_features" -> ((s, d) => Media.qAudioFeatures(t(s, d))),
    "q_source_roundtrip" -> ((s, d) =>
      graft.sources.SourceRoundtrip.qSourceRoundtrip(t(s, d))),
    "q_federated" -> ((s, d) => graft.sources.Federated.qFederated(t(s, d))),
    "q_table_merge" -> ((s, d) => graft.sources.TableMerge.qTableMerge(t(s, d))),
    "q_table_branch" -> ((s, d) => graft.sources.TableBranch.qTableBranch(t(s, d))),
    "q_branch_read" -> ((s, d) => graft.sources.TableBranch.qBranchRead(t(s, d))),
    "q_table_tag" -> ((s, d) => graft.sources.TableBranch.qTableTag(t(s, d))),
    "q_table_diff" -> ((s, d) => graft.sources.TableBranch.qTableDiff(t(s, d))),
    "q_table_replace" -> ((s, d) => graft.sources.TableReplace.qTableReplace(t(s, d))),
    "q_table_clone" -> ((s, d) => graft.sources.TableClone.qTableClone(t(s, d))),
    "q_copy_into" -> ((s, d) => graft.sources.TableCopyInto.qCopyInto(t(s, d))),
    "q_sql_merge" -> ((s, d) => graft.service.SqlDmlDemo.qSqlMerge(t(s, d))),
    "q_info_schema" -> ((s, d) => graft.service.InfoSchema.qInfoSchema(t(s, d))),
    "q_constraints_schema" -> ((s, d) => graft.service.InfoSchema.qConstraintsSchema(t(s, d))),
    "q_sql_merge_general" -> ((s, d) =>
      graft.service.SqlMergeGeneralDemo.qSqlMergeGeneral(t(s, d))),
    "q_sql_timetravel" -> ((s, d) =>
      graft.service.SqlTimeTravelDemo.qSqlTimeTravel(t(s, d))),
    "q_sql_insert" -> ((s, d) =>
      graft.service.SqlInsertDemo.qSqlInsert(t(s, d))),
    "q_branch_write" -> ((s, d) =>
      graft.service.SqlBranchWriteDemo.qBranchWrite(t(s, d))),
    "q_export_roundtrip" -> ((s, d) =>
      graft.service.ExportDemo.qExportRoundtrip(t(s, d))),
    "q_scd2" -> ((s, d) => graft.operators.Merge.qScd2(t(s, d))),
    "q_scd2_pit" -> ((s, d) => graft.operators.Merge.qScd2Pit(t(s, d))),
    "q_vtable_skip" -> ((s, d) => graft.sources.TableSkip.qVtableSkip(t(s, d))),
    "q_vtable_lazy" -> ((s, d) => graft.sources.TableSkip.qVtableLazy(t(s, d))),
    "q_vtable_meta" -> ((s, d) => graft.sources.TableSkip.qVtableMeta(t(s, d))),
    "q_vtable_dfp" -> ((s, d) => graft.sources.TableSkip.qVtableDfp(t(s, d))),
    "q_vtable_in" -> ((s, d) => graft.sources.TableSkip.qVtableIn(t(s, d))),
    "q_vtable_or" -> ((s, d) => graft.sources.TableSkip.qVtableOr(t(s, d))),
    "q_table_evolve" -> ((s, d) => graft.sources.TableEvolve.qTableEvolve(t(s, d))),
    "q_table_rename" -> ((s, d) => graft.sources.TableMapping.qTableRename(t(s, d))),
    "q_table_apply" -> ((s, d) => graft.sources.TableApply.qTableApply(t(s, d))),
    "q_cdf" -> ((s, d) => graft.sources.TableCdf.qCdf(t(s, d))),
    "q_tvf_changes" -> ((s, d) => graft.sources.TableCdf.qTvfChanges(t(s, d))),
    "q_bloom_lookup" -> ((s, d) => graft.sources.TableBloom.qBloomLookup(t(s, d))),
    "q_sketch_sidecars" -> ((s, d) => graft.sources.TableSketch.qSketchSidecars(t(s, d))),
    "q_table_stats" -> ((s, d) => graft.sources.TableSketch.qTableStats(t(s, d))),
    "q_mview" -> ((s, d) => graft.sources.MviewDemo.qMview(t(s, d))),
    "q_sql_mview" -> ((s, d) => graft.service.SqlMviewDemo.qSqlMview(t(s, d))),
    "q_mview_cdf" -> ((s, d) => graft.sources.MviewCdfDemo.qMviewCdf(t(s, d))),
    "q_mview_branch" -> ((s, d) => graft.sources.MviewBranchDemo.qMviewBranch(t(s, d))),
    // composed curation pipeline (dedup → quality gate → routing stats)
    "q_curate" -> ((s, d) => Curate.qCurate(t(s, d))),
    "q_data_card" -> ((s, d) => Curate.qDataCard(t(s, d))),
    // rows-only: candidate set comes from the k-means coarse quantizer
    "q_maxsim_ivf" -> ((s, d) => Similarity.qMaxSimIvf(t(s, d))),
    "q_cluster_topics" -> ((s, d) => Similarity.qClusterTopics(t(s, d))),
    "q_filter_cascade" -> ((s, d) => Curate.qFilterCascade(t(s, d))),
    // compliance stages: decontamination, redaction, stratified sampling
    "q_decontaminate" -> ((s, d) => Decontam.qDecontaminate(t(s, d))),
    "q_decontaminate_bloom" -> ((s, d) => Decontam.qDecontaminateBloom(t(s, d))),
    "q_decontaminate_sem" -> ((s, d) =>
      graft.operators.SemDecontam.qDecontaminateSem(t(s, d))),
    "q_redact" -> ((s, d) => Decontam.qRedact(t(s, d))),
    "q_pii_scan" -> ((s, d) => Decontam.qPiiScan(t(s, d))),
    "q_repetition" -> ((s, d) => TextAnalysis.qRepetition(t(s, d))),
    "q_stratified_sample" -> ((s, d) => Decontam.qStratifiedSample(t(s, d))),
    "q_group_sample" -> ((s, d) => Decontam.qGroupSample(t(s, d))),
    "q_weighted_sample" -> ((s, d) => Decontam.qWeightedSample(t(s, d))),
  )

  /** DuckDB oracle per query — since round 12 EVERY query is oracled
    * (OracleContractSpec enforces queries.keySet == oracleSql.keySet).
    * The four codec-bound multimodal queries are DECODED-PLANE
    * REPLAYS: the decode stage (the only non-SQL step — ImageIO, PCM
    * byte layout, the fake-decoder harness) exports its output plane
    * (per-pixel RGB/luma/bytes, PCM samples) and the oracle recomputes
    * every downstream feature — Rec.601 luma, histogram entropy,
    * channel means, RMS/peak/zero-crossings, windowed-energy
    * variance, frame-sampling arithmetic — from those values in plain
    * SQL, so all feature math is hash-gated while the codecs stay
    * pinned by MultimodalSpec's bit-exact asserts.
    * q_dedup_ingest, q_minhash_lsh, q_simhash, q_semdedup,
    * q_text_ann, q_ann_lsh, q_ann_ivf, q_ann_pq, q_ann_ivfpq, and
    * q_maxsim_ivf ARE oracled, as decision replays: the signature
    * function isn't SQL, but given the exported band tables
    * (DedupIndex.OracleExportDir) the banding join, pair dedup,
    * estimator, and threshold all are. q_approx_distinct,
    * q_hll_sketch, and q_percentile_approx are oracled as
    * BOUND-VERIFICATION replays: the engine-specific estimates export
    * as the decision table, and both engines independently recompute
    * the exact counts/ranks from raw rows and hash-compare the
    * within-bound flags.
    */
  /** The shingle table (d + s CTE bodies, no WITH prefix) — ONE text
    * shared by the decontamination, n-gram-jaccard, and dup-cluster
    * oracles: a change to shingle size or the min-length floor edits
    * exactly one place, mirroring how the Spark side shares
    * `word_shingles`.
    */
  private val shingleCte: String =
    """d AS (
      |  SELECT doc_id,
      |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      |  FROM documents
      |  WHERE len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) >= 5),
      |s AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(w) - 3),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
      |  ))) AS shingle FROM d)""".stripMargin

  /** The 8-token SPAN table (d + s bodies, no WITH prefix) — shared
    * by the three span-family oracles (span dedup, span ingest,
    * cross-source matrix), mirroring how the Spark side shares
    * `word_shingles(text, 8)`. Keeps `source` so the matrix can read
    * it; the other tails ignore the column.
    */
  private val spanCte: String =
    """d AS (
      |  SELECT doc_id, source,
      |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, source, unnest(list_distinct(list_transform(
      |    range(1, len(w) - 6),
      |    i -> array_to_string(w[i:i+7], ' ')
      |  ))) AS span FROM d WHERE len(w) >= 8)""".stripMargin

  /** The DF-capped candidate-pair table over `s` — shared by the
    * n-gram-jaccard oracle and the transitive-closure tails so the
    * pair semantics (df cap 50, distinct shingles, a<b) can't
    * diverge between them.
    */
  private val pairCte: String =
    """hot AS (SELECT shingle FROM s GROUP BY shingle HAVING count(*) > 50),
      |c AS (SELECT doc_id, shingle FROM s
      |      WHERE shingle NOT IN (SELECT shingle FROM hot)),
      |n AS (SELECT doc_id, count(*) AS n_sh FROM c GROUP BY doc_id),
      |p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
      |      FROM c x JOIN c y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |      GROUP BY 1, 2)""".stripMargin

  /** Shared by q_decontaminate and q_decontaminate_bloom — the bloom
    * pre-filter is exact-by-construction, so both plans answer to one
    * oracle text.
    */
  private val decontaminateSql: String =
    "WITH " + shingleCte + ",\n" +
    """bench AS (
      |  SELECT DISTINCT shingle, doc_id AS bench_id FROM s WHERE doc_id % 50 = 0)
      |SELECT s.doc_id, count(DISTINCT shingle) AS n_hits,
      |       count(DISTINCT bench.bench_id) AS n_bench_docs
      |FROM s JOIN bench USING (shingle)
      |WHERE s.doc_id % 50 <> 0
      |GROUP BY s.doc_id HAVING count(DISTINCT shingle) >= 2
      |ORDER BY s.doc_id""".stripMargin

  /** The near-dup pair table + transitive closure, shared by
    * q_dup_clusters (label roster) and q_dedup_near (drop manifest) —
    * one CTE text, two tails, mirroring how the Spark side shares the
    * memoized pair table.
    */
  private val dupReachCte: String =
    "WITH RECURSIVE " + shingleCte + ",\n" + pairCte + ",\n" +
    """pr AS (
      |  SELECT doc_a, doc_b FROM p
      |  JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
      |  WHERE floor((n_common / (na.n_sh + nb.n_sh - n_common)) * 100 + 0.5) / 100 >= 0.6),
      |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
      |      UNION ALL SELECT doc_b, doc_a FROM pr),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)""".stripMargin

  /** The BPE decision-replay core (shared by the q_bpe_tokens and
    * q_pack_bpe oracles): given the exported learned merge ranks, the
    * greedy lowest-rank-leftmost merge loop itself replays as a
    * recursive CTE — each step merges exactly one symbol pair (the
    * minimal-rank pair's leftmost occurrence, `list(i ORDER BY rank,
    * i)[1]`), mirroring Bpe.Model.mergeWord step for step; a word's
    * final segmentation is its minimal-length state. Runs on DISTINCT
    * words (the dictionary), exactly like the Scala encoder's
    * per-word memo.
    */
  private val bpeCte: String =
    s"""m AS (
      |  SELECT a, b, rank
      |  FROM read_parquet('${graft.util.OracleExports.dir("bpe_merges")}/*.parquet')),
      |dtw AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
      |  FROM documents),
      |docw AS (
      |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS widx, unnest(w) AS word
      |  FROM dtw),
      |dw AS (SELECT DISTINCT word FROM docw),
      |enc(word, syms) AS (
      |  SELECT word, list_transform(range(1, len(word) + 1), i -> word[i]) FROM dw
      |  UNION ALL
      |  SELECT word,
      |    list_concat(
      |      list_concat(syms[1:bi-1], [syms[bi] || syms[bi+1]]),
      |      syms[bi+2:len(syms)])
      |  FROM (
      |    SELECT e.word, e.syms,
      |      (SELECT (list(p.i ORDER BY mm.rank, p.i))[1]
      |       FROM unnest(range(1, len(e.syms))) AS p(i)
      |       JOIN m mm ON mm.a = e.syms[p.i] AND mm.b = e.syms[p.i+1]) AS bi
      |    FROM enc e) t
      |  WHERE bi IS NOT NULL),
      |fin AS (SELECT word, arg_min(syms, len(syms)) AS syms FROM enc GROUP BY word)""".stripMargin

  /** One change-feed reconstruction gates BOTH feed entry points:
    * `q_cdf` (the readChangesSince API) and `q_tvf_changes` (the
    * table_changes() SQL table function) — the TVF can never drift
    * from the API it wraps.
    */
  private val cdfOracle: String =
    """WITH evens AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |upd AS (
        |  SELECT o_orderkey AS k,
        |    floor((o_totalprice * 1.1) * 100 + 0.5) / 100 AS price
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |snap AS (
        |  SELECT coalesce(u.k, e.k) AS k, coalesce(u.price, e.price) AS price
        |  FROM evens e FULL OUTER JOIN upd u ON e.k = u.k),
        |changes AS (
        |  SELECT 1 AS v, 'insert' AS change_type, price FROM evens
        |  UNION ALL
        |  SELECT 2, 'update_preimage', e.price FROM evens e JOIN upd u ON e.k = u.k
        |  UNION ALL
        |  SELECT 2, 'update_postimage', u.price FROM upd u JOIN evens e ON u.k = e.k
        |  UNION ALL
        |  SELECT 2, 'insert', price FROM upd
        |  WHERE k NOT IN (SELECT k FROM evens)
        |  UNION ALL
        |  SELECT 3, 'delete', price FROM snap WHERE k % 5 = 0)
        |SELECT CAST(v AS INTEGER) AS commit_version, change_type,
        | count(*) AS n_rows,
        | floor((sum(price)) * 100 + 0.5) / 100 AS total
        |FROM changes GROUP BY v, change_type
        |ORDER BY commit_version, change_type""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // BPE token counts: the learned model replays via bpeCte; the
    // per-document rollup and the whitespace count are plain SQL
    "q_bpe_tokens" ->
      ("WITH RECURSIVE " + bpeCte + ",\n" +
       """agg AS (
        |  SELECT doc_id, CAST(sum(len(f.syms)) AS INTEGER) AS n_bpe,
        |         CAST(count(*) AS INTEGER) AS n_ws
        |  FROM docw JOIN fin f USING (word) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_bpe, 0) AS n_bpe,
        |       coalesce(a.n_ws, 0) AS n_ws
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    // fertility = BPE tokens per whitespace word, per language — the
    // per-doc sums re-derive from the same merge replay, then join
    // lang; integer-valued double sums keep the ratio bit-identical
    "q_bpe_roundtrip" ->
      s"""WITH v AS (
        |  SELECT symbol, id
        |  FROM read_parquet('${graft.util.OracleExports.dir("bpe_vocab")}/*.parquet')),
        |i AS (
        |  SELECT doc_id, pos, id
        |  FROM read_parquet('${graft.util.OracleExports.dir("bpe_ids")}/*.parquet')),
        |dec AS (
        |  SELECT i.doc_id, count(*) AS n_tokens,
        |    string_agg(coalesce(v.symbol, chr(65533)), '' ORDER BY i.pos) AS decoded
        |  FROM i LEFT JOIN v USING (id) GROUP BY i.doc_id)
        |SELECT d.doc_id, CAST(coalesce(dec.n_tokens, 0) AS INTEGER) AS n_tokens,
        |  coalesce(dec.decoded, '') = regexp_replace(d.text, '\\s+', '', 'g') AS roundtrip_ok
        |FROM documents d LEFT JOIN dec USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_bpe_fertility" ->
      ("WITH RECURSIVE " + bpeCte + ",\n" +
       """agg AS (
        |  SELECT doc_id, CAST(sum(len(f.syms)) AS DOUBLE) AS n_bpe,
        |         CAST(count(*) AS DOUBLE) AS n_ws
        |  FROM docw JOIN fin f USING (word) GROUP BY doc_id)
        |SELECT d.lang, count(*) AS n_docs,
        |  floor((sum(a.n_bpe) / sum(a.n_ws)) * 10000 + 0.5) / 10000 AS fertility
        |FROM documents d JOIN agg a USING (doc_id)
        |WHERE a.n_ws > 0
        |GROUP BY d.lang
        |ORDER BY lang""".stripMargin),
    // BPE sequence packing: token ids come from the exported
    // vocabulary (unk = max id + 1, the Model contract), positions
    // from a per-doc (word, symbol) ordering, starts from a plain
    // cumulative sum in doc_id order — Pretrain.withStart's
    // block-prefix-sum must equal this single-window spelling
    "q_pack_bpe" ->
      ("WITH RECURSIVE " + bpeCte + ",\n" +
       s"""v AS (
        |  SELECT symbol, id
        |  FROM read_parquet('${graft.util.OracleExports.dir("bpe_vocab")}/*.parquet')),
        |sy AS (
        |  SELECT doc_id, widx,
        |    unnest(range(1, len(syms) + 1)) AS sidx, unnest(syms) AS sym
        |  FROM (SELECT docw.doc_id, docw.widx, f.syms
        |        FROM docw JOIN fin f USING (word))),
        |tok AS (
        |  SELECT sy.doc_id, sy.widx, sy.sidx,
        |    coalesce(v.id, (SELECT max(id) + 1 FROM v)) AS id
        |  FROM sy LEFT JOIN v ON v.symbol = sy.sym),
        |pos AS (
        |  SELECT doc_id, id,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY widx, sidx) - 1 AS pos
        |  FROM tok),
        |dcount AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY doc_id),
        |starts AS (
        |  SELECT doc_id, CAST(coalesce(sum(ntok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM dcount),
        |g AS (
        |  SELECT (s.start + p.pos) // 512 AS seq_id, p.id,
        |         s.start + p.pos AS gpos
        |  FROM pos p JOIN starts s USING (doc_id))
        |SELECT seq_id, CAST(count(*) AS INTEGER) AS n_tokens,
        |  CAST(sum(id) AS BIGINT) AS id_sum,
        |  CAST(min_by(id, gpos) AS INTEGER) AS first_id,
        |  CAST(max_by(id, gpos) AS INTEGER) AS last_id
        |FROM g GROUP BY seq_id ORDER BY seq_id""".stripMargin),
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty,
        | floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
        | floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
        | floor((sum(l_extendedprice*(1-l_discount)*(1+l_tax))) * 100 + 0.5) / 100 AS sum_charge,
        | floor((avg(l_quantity)) * 100 + 0.5) / 100 AS avg_qty,
        | floor((avg(l_extendedprice)) * 100 + 0.5) / 100 AS avg_price,
        | floor((avg(l_discount)) * 100 + 0.5) / 100 AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // Sketch bound-verification replays: the exported estimates are
    // the decision; the oracle recomputes exact counts/ranks itself
    // and must reproduce Spark's within-bound flags bit-for-bit.
    "q_approx_distinct" ->
      s"""WITH est AS (
        |  SELECT approx_parts, approx_orders
        |  FROM read_parquet('${graft.util.OracleExports.dir("approx_distinct")}/*.parquet')),
        |ex AS (
        |  SELECT count(DISTINCT l_partkey) AS ex_parts,
        |         count(DISTINCT l_orderkey) AS ex_orders,
        |         count(*) AS n_rows
        |  FROM lineitem)
        |SELECT est.approx_parts, est.approx_orders, ex.n_rows,
        |  abs(est.approx_parts - ex.ex_parts) <= ex.ex_parts * 0.06 AS parts_ok,
        |  abs(est.approx_orders - ex.ex_orders) <= ex.ex_orders * 0.06 AS orders_ok
        |FROM est, ex""".stripMargin,
    "q_percentile_approx" ->
      s"""WITH est AS (
        |  SELECT l_returnflag, v50, v95, vq50
        |  FROM read_parquet('${graft.util.OracleExports.dir("pct_sketch")}/*.parquet')),
        |a AS (
        |  SELECT l.l_returnflag, count(*) AS n,
        |    CAST(sum(CASE WHEN l.l_extendedprice <= e.v50 THEN 1 ELSE 0 END) AS BIGINT) AS le50,
        |    CAST(sum(CASE WHEN l.l_extendedprice <  e.v50 THEN 1 ELSE 0 END) AS BIGINT) AS lt50,
        |    CAST(sum(CASE WHEN l.l_extendedprice <= e.v95 THEN 1 ELSE 0 END) AS BIGINT) AS le95,
        |    CAST(sum(CASE WHEN l.l_extendedprice <  e.v95 THEN 1 ELSE 0 END) AS BIGINT) AS lt95,
        |    CAST(sum(CASE WHEN l.l_quantity <= e.vq50 THEN 1 ELSE 0 END) AS BIGINT) AS leq50,
        |    CAST(sum(CASE WHEN l.l_quantity <  e.vq50 THEN 1 ELSE 0 END) AS BIGINT) AS ltq50
        |  FROM lineitem l JOIN est e USING (l_returnflag)
        |  GROUP BY l.l_returnflag)
        |SELECT a.l_returnflag,
        |  floor(e.v50 * 100 + 0.5) / 100 AS p50,
        |  floor(e.v95 * 100 + 0.5) / 100 AS p95,
        |  floor(e.vq50 * 100 + 0.5) / 100 AS qty_p50,
        |  a.n,
        |  (le50 >= n * 0.5 - (n / 10000.0 + 1.0)) AND (lt50 <= n * 0.5 + (n / 10000.0 + 1.0)) AS p50_ok,
        |  (le95 >= n * 0.95 - (n / 10000.0 + 1.0)) AND (lt95 <= n * 0.95 + (n / 10000.0 + 1.0)) AS p95_ok,
        |  (leq50 >= n * 0.5 - (n / 10000.0 + 1.0)) AND (ltq50 <= n * 0.5 + (n / 10000.0 + 1.0)) AS qty_ok
        |FROM a JOIN est e USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q_hll_sketch" ->
      s"""WITH est AS (
        |  SELECT event_type, est_users_total, est_user_days_wk1
        |  FROM read_parquet('${graft.util.OracleExports.dir("hll_sketch")}/*.parquet')),
        |e AS (
        |  SELECT event_type, CAST(extract(day FROM ts) AS INTEGER) AS day, user_id
        |  FROM events),
        |ex AS (
        |  SELECT event_type,
        |    count(DISTINCT user_id) AS ex_total,
        |    count(DISTINCT CASE WHEN day <= 7
        |      THEN CAST(day AS VARCHAR) || '#' || CAST(user_id AS VARCHAR) END) AS ex_wk1,
        |    count(*) AS n_events
        |  FROM e GROUP BY event_type)
        |SELECT est.event_type, est.est_users_total, est.est_user_days_wk1, ex.n_events,
        |  abs(est.est_users_total - ex.ex_total) <= greatest(ex.ex_total * 0.049, 3.0) AS total_ok,
        |  abs(est.est_user_days_wk1 - ex.ex_wk1) <= greatest(ex.ex_wk1 * 0.049, 3.0) AS wk1_ok
        |FROM est JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q_kll_quantiles" ->
      s"""WITH est AS (
        |  SELECT event_type, v50, v95
        |  FROM read_parquet('${graft.util.OracleExports.dir("kll_sketch")}/*.parquet')),
        |a AS (
        |  SELECT ev.event_type, count(*) AS n,
        |    CAST(sum(CASE WHEN ev.value <= e.v50 THEN 1 ELSE 0 END) AS BIGINT) AS le50,
        |    CAST(sum(CASE WHEN ev.value <  e.v50 THEN 1 ELSE 0 END) AS BIGINT) AS lt50,
        |    CAST(sum(CASE WHEN ev.value <= e.v95 THEN 1 ELSE 0 END) AS BIGINT) AS le95,
        |    CAST(sum(CASE WHEN ev.value <  e.v95 THEN 1 ELSE 0 END) AS BIGINT) AS lt95
        |  FROM events ev JOIN est e USING (event_type)
        |  GROUP BY ev.event_type)
        |SELECT a.event_type,
        |  floor(e.v50 * 10000 + 0.5) / 10000 AS p50,
        |  floor(e.v95 * 10000 + 0.5) / 10000 AS p95,
        |  a.n,
        |  (le50 >= n * 0.5 - (n * 0.03 + 1.0)) AND (lt50 <= n * 0.5 + (n * 0.03 + 1.0)) AS p50_ok,
        |  (le95 >= n * 0.95 - (n * 0.03 + 1.0)) AND (lt95 <= n * 0.95 + (n * 0.03 + 1.0)) AS p95_ok
        |FROM a JOIN est e USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q_theta_overlap" ->
      s"""WITH est AS (
        |  SELECT event_type, est_both, est_any, est_gone
        |  FROM read_parquet('${graft.util.OracleExports.dir("theta_overlap")}/*.parquet')),
        |e AS (
        |  SELECT event_type, user_id,
        |    max(CASE WHEN CAST(extract(day FROM ts) AS INTEGER) <= 7 THEN 1 ELSE 0 END) AS h1,
        |    max(CASE WHEN CAST(extract(day FROM ts) AS INTEGER) > 7 THEN 1 ELSE 0 END) AS h2
        |  FROM events GROUP BY event_type, user_id),
        |ex AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ex_both,
        |    count(*) AS ex_any,
        |    CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ex_gone
        |  FROM e GROUP BY event_type)
        |SELECT est.event_type, est.est_both, est.est_any, est.est_gone,
        |  abs(est.est_both - ex.ex_both) <= greatest(ex.ex_both * 0.05, 3.0) AS both_ok,
        |  abs(est.est_any - ex.ex_any) <= greatest(ex.ex_any * 0.05, 3.0) AS any_ok,
        |  abs(est.est_gone - ex.ex_gone) <= greatest(ex.ex_gone * 0.05, 3.0) AS gone_ok
        |FROM est JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // ---- decoded-plane replays: the decode exports its output plane;
    // every downstream feature recomputes here in plain SQL ----------
    "q_media_features" ->
      s"""WITH px AS (
        |  SELECT doc_id, n_bytes, width, height, b
        |  FROM read_parquet('${graft.util.OracleExports.dir("media_px")}/*.parquet')),
        |hist AS (SELECT doc_id, b, count(*) AS c FROM px GROUP BY doc_id, b),
        |tot AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n FROM hist GROUP BY doc_id),
        |ent AS (
        |  SELECT h.doc_id, -sum((c / n) * log2(c / n)) AS e
        |  FROM hist h JOIN tot USING (doc_id) GROUP BY h.doc_id),
        |agg AS (
        |  SELECT doc_id, max(n_bytes) AS n_bytes, max(width) AS width,
        |    max(height) AS height, avg(b) AS m
        |  FROM px GROUP BY doc_id)
        |SELECT a.doc_id, a.n_bytes,
        |  floor(a.m * 100 + 0.5) / 100 AS byte_mean,
        |  floor(e.e * 100 + 0.5) / 100 AS byte_entropy,
        |  a.width, a.height
        |FROM agg a JOIN ent e USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_image_features" ->
      s"""WITH px AS (
        |  SELECT doc_id, n_bytes, width, height, r, g, b,
        |    (r * 299 + g * 587 + b * 114) // 1000 AS luma
        |  FROM read_parquet('${graft.util.OracleExports.dir("img_px")}/*.parquet')),
        |hist AS (SELECT doc_id, luma, count(*) AS c FROM px GROUP BY doc_id, luma),
        |tot AS (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n FROM hist GROUP BY doc_id),
        |ent AS (
        |  SELECT h.doc_id, -sum((c / n) * log2(c / n)) AS e
        |  FROM hist h JOIN tot USING (doc_id) GROUP BY h.doc_id),
        |agg AS (
        |  SELECT doc_id, max(n_bytes) AS n_bytes, max(width) AS width,
        |    max(height) AS height, avg(luma) AS lm,
        |    avg(r) AS mr, avg(g) AS mg, avg(b) AS mb
        |  FROM px GROUP BY doc_id)
        |SELECT a.doc_id, a.n_bytes, a.width, a.height,
        |  floor(a.lm * 100 + 0.5) / 100 AS luma_mean,
        |  floor(e.e * 100 + 0.5) / 100 AS luma_entropy,
        |  floor(a.mr * 100 + 0.5) / 100 AS mean_r,
        |  floor(a.mg * 100 + 0.5) / 100 AS mean_g,
        |  floor(a.mb * 100 + 0.5) / 100 AS mean_b
        |FROM agg a JOIN ent e USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      s"""WITH px AS (
        |  SELECT doc_id, n_frames, frame_idx, luma
        |  FROM read_parquet('${graft.util.OracleExports.dir("frame_px")}/*.parquet')),
        |agg AS (SELECT doc_id, CAST(count(DISTINCT frame_idx) AS INTEGER) AS n_sampled,
        |    avg(luma) AS lm
        |  FROM px GROUP BY doc_id),
        |hdr AS (SELECT doc_id, max(n_frames) AS n_frames FROM px GROUP BY doc_id)
        |SELECT h.doc_id, h.n_frames, a.n_sampled,
        |  floor(a.lm * 100 + 0.5) / 100 AS sampled_luma_mean
        |FROM hdr h JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the animated-GIF twin: same replay over its own decoded planes
    // (the GIF codec palettizes at encode, so the planes — and the
    // numbers — are the container's own, not TIFF's)
    "q_frame_sample_gif" ->
      s"""WITH px AS (
        |  SELECT doc_id, n_frames, frame_idx, luma
        |  FROM read_parquet('${graft.util.OracleExports.dir("frame_px_gif")}/*.parquet')),
        |agg AS (SELECT doc_id, CAST(count(DISTINCT frame_idx) AS INTEGER) AS n_sampled,
        |    avg(luma) AS lm
        |  FROM px GROUP BY doc_id),
        |hdr AS (SELECT doc_id, max(n_frames) AS n_frames FROM px GROUP BY doc_id)
        |SELECT h.doc_id, h.n_frames, a.n_sampled,
        |  floor(a.lm * 100 + 0.5) / 100 AS sampled_luma_mean
        |FROM hdr h JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_audio_features" ->
      s"""WITH s AS (
        |  SELECT doc_id, idx, x
        |  FROM read_parquet('${graft.util.OracleExports.dir("audio_samples")}/*.parquet')),
        |sp AS (SELECT doc_id, idx, x,
        |    lag(x) OVER (PARTITION BY doc_id ORDER BY idx) AS px
        |  FROM s),
        |base AS (
        |  SELECT doc_id, count(*) AS n,
        |    sqrt(sum(x * x) / count(*)) AS rms,
        |    max(abs(x)) AS peak,
        |    CAST(sum(CASE WHEN px IS NOT NULL AND ((x >= 0) <> (px >= 0))
        |      THEN 1 ELSE 0 END) AS DOUBLE) AS crossings
        |  FROM sp GROUP BY doc_id),
        |we AS (SELECT doc_id, idx // 256 AS w, sum(x * x) / count(*) AS e
        |  FROM s GROUP BY doc_id, w),
        |wm AS (SELECT doc_id, avg(e) AS m, count(*) AS nw FROM we GROUP BY doc_id),
        |wv AS (SELECT we.doc_id, sum((e - m) * (e - m)) / max(nw) AS v
        |  FROM we JOIN wm USING (doc_id) GROUP BY we.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(b.n, 0) AS INTEGER) AS n_samples,
        |  floor(coalesce(b.n, 0) / 16000.0 * 10000 + 0.5) / 10000 AS duration_sec,
        |  floor(coalesce(b.rms, 0) * 10000 + 0.5) / 10000 AS rms,
        |  floor(coalesce(b.peak, 0) * 10000 + 0.5) / 10000 AS peak,
        |  floor((CASE WHEN coalesce(b.n, 0) <= 1 THEN 0.0
        |    ELSE b.crossings / (b.n - 1) END) * 10000 + 0.5) / 10000 AS zero_cross_rate,
        |  floor(coalesce(w.v, 0) * 1000000 + 0.5) / 1000000 AS energy_var
        |FROM documents d
        |LEFT JOIN base b USING (doc_id)
        |LEFT JOIN wv w USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q6_filter_agg" ->
      """SELECT floor((sum(l_extendedprice*l_discount)) * 100 + 0.5) / 100 AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderpriority,
        | floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        | floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total_spent
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 5 ORDER BY o_custkey""".stripMargin,
    "q_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | floor((coalesce(sum(o_totalprice), 0)) * 100 + 0.5) / 100 AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_full_outer" ->
      """WITH open AS (
        |  SELECT o_custkey AS k1, count(*) AS n_open
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
        |done AS (
        |  SELECT o_custkey AS k2, count(*) AS n_fulfilled
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
        |SELECT coalesce(k1, k2) AS custkey,
        |  cast(coalesce(n_open, 0) AS BIGINT) AS n_open,
        |  cast(coalesce(n_fulfilled, 0) AS BIGINT) AS n_fulfilled
        |FROM open FULL JOIN done ON k1 = k2
        |ORDER BY custkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem) * 1.8
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q17_small_qty" ->
      """SELECT floor((sum(l_extendedprice) / 7.0) * 100 + 0.5) / 100 AS avg_yearly,
        | count(*) AS n_rows
        |FROM lineitem l
        |JOIN (SELECT l_partkey AS agg_partkey, avg(l_quantity) AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) p
        |  ON l.l_partkey = p.agg_partkey
        |WHERE l.l_quantity < p.avg_qty * 0.5""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
        | floor((o_totalprice) * 100 + 0.5) / 100 AS total_price,
        | floor((sum_qty) * 100 + 0.5) / 100 AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(l_quantity) > 200) big
        |  ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q7_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        | cast(year(l_shipdate) AS INTEGER) AS l_year,
        | floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1','NATION_2')
        |  AND cn.n_name IN ('NATION_1','NATION_2')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q20_heavy_part_suppliers" ->
      """SELECT n_name, count(*) AS n_suppliers
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (
        |    SELECT l_partkey FROM lineitem
        |    GROUP BY l_partkey HAVING sum(l_quantity) > 150))
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q8_market_share" ->
      """SELECT o_year, nat_volume, total_volume,
        | floor((nat_volume / total_volume) * 10000 + 0.5) / 10000 AS mkt_share
        |FROM (
        |  SELECT cast(year(o_orderdate) AS INTEGER) AS o_year,
        |    floor((sum(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN l_extendedprice*(1-l_discount) ELSE 0 END)) * 100 + 0.5) / 100
        |      AS nat_volume,
        |    floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100
        |      AS total_volume
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |  GROUP BY 1)
        |ORDER BY o_year""".stripMargin,
    "q9_product_profit" ->
      """SELECT sn.n_name AS nation,
        | cast(year(o_orderdate) AS INTEGER) AS o_year,
        | floor((sum(cast(floor(l_extendedprice*100 + 0.5) AS BIGINT)
        |     * cast(floor((1-l_discount)*100 + 0.5) AS BIGINT)
        |   - cast(floor(p_retailprice*100 + 0.5) AS BIGINT) * 10
        |     * cast(l_quantity AS BIGINT)) / 10000.0) * 100 + 0.5) / 100
        |   AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        | floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100 AS revenue
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q11_important_parts" ->
      """SELECT l_partkey,
        | floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100 AS part_value
        |FROM lineitem
        |GROUP BY l_partkey
        |HAVING floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100 >
        |  (SELECT floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100
        |   FROM lineitem) * 0.002
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT promo_volume, total_volume,
        | floor((promo_volume * 100 / total_volume) * 10000 + 0.5) / 10000
        |   AS promo_pct
        |FROM (
        |  SELECT
        |    floor((sum(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice*(1-l_discount) ELSE 0 END)) * 100 + 0.5) / 100
        |      AS promo_volume,
        |    floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100
        |      AS total_volume
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01')""".stripMargin,
    "q2_min_bal_supplier" ->
      """WITH cand AS (
        |  SELECT p_partkey, p_name, s_name, s_acctbal, n_name
        |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'STANDARD' AND p_size < 15 AND r_name = 'EUROPE')
        |SELECT p_partkey, p_name, s_name, s_acctbal, n_name
        |FROM cand c
        |WHERE s_acctbal = (SELECT min(s_acctbal) FROM cand c2
        |                   WHERE c2.p_partkey = c.p_partkey)
        |ORDER BY p_partkey, s_name""".stripMargin,
    "q4_priority_check" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q12_late_shipments" ->
      """SELECT l_returnflag,
        | cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q16_supplier_counts" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    "q19_disjunctive" ->
      """SELECT floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100
        |   AS revenue,
        | count(*) AS n_rows
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q21_waiting_supplier" ->
      """SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
        |FROM lineitem l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_1'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate >= l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    "q22_idle_customers" ->
      """SELECT n_name, count(*) AS numcust,
        | floor((sum(c_acctbal)) * 100 + 0.5) / 100 AS totacctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (SELECT floor((avg(c_acctbal)) * 100 + 0.5) / 100
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_profile" ->
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    cast(min(o_orderkey) AS VARCHAR) AS min_val,
        |    cast(max(o_orderkey) AS VARCHAR) AS max_val FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey),
        |    cast(min(o_custkey) AS VARCHAR), cast(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    cast(min(o_orderstatus) AS VARCHAR), cast(max(o_orderstatus) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |    count(DISTINCT o_totalprice),
        |    cast(min(o_totalprice) AS VARCHAR), cast(max(o_totalprice) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |    count(DISTINCT o_orderdate),
        |    cast(min(o_orderdate) AS VARCHAR), cast(max(o_orderdate) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority),
        |    cast(min(o_orderpriority) AS VARCHAR), cast(max(o_orderpriority) AS VARCHAR)
        |  FROM orders)
        |ORDER BY col_name""".stripMargin,
    "q_constraints" ->
      """SELECT * FROM (
        |  SELECT 'lineitem_orderkey_not_null' AS constraint_name,
        |    count(*) AS n_rows,
        |    cast(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS pass
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_discount_in_range', count(*),
        |    cast(sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 1.0)
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 1.0)
        |      THEN 1 ELSE 0 END) = 0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_quantity_positive', count(*),
        |    cast(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) = 0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_price_positive', count(*),
        |    cast(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) = 0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_ship_after_1994', count(*),
        |    cast(sum(CASE WHEN l_shipdate < TIMESTAMP '1994-01-01'
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    sum(CASE WHEN l_shipdate < TIMESTAMP '1994-01-01'
        |      THEN 1 ELSE 0 END) = 0
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders_orderkey_unique', cast(NULL AS BIGINT),
        |    cast(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
        |    count(*) = count(DISTINCT o_orderkey)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_orders_ref_integrity', cast(NULL AS BIGINT),
        |    count(*), count(*) = 0
        |  FROM (SELECT l_orderkey FROM lineitem
        |        WHERE l_orderkey IS NOT NULL
        |          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
        |ORDER BY constraint_name""".stripMargin,
    "q15_top_supplier" ->
      """WITH revs AS (
        |  SELECT l_suppkey,
        |    floor((sum(l_extendedprice*(1-l_discount))) * 100 + 0.5) / 100
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM revs JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revs)
        |ORDER BY s_suppkey""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, floor((o_totalprice) * 100 + 0.5) / 100 AS price
        |FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_distinct_segments" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    "q_union" ->
      """SELECT key, count(*) AS cnt FROM (
        |  SELECT n_nationkey AS key FROM nation WHERE n_regionkey = 0
        |  UNION ALL
        |  SELECT n_nationkey AS key FROM nation WHERE n_nationkey < 10) u
        |GROUP BY key ORDER BY key""".stripMargin,
    "q_except" ->
      """SELECT c_nationkey AS nkey FROM customer
        |EXCEPT SELECT s_nationkey AS nkey FROM supplier
        |ORDER BY nkey""".stripMargin,
    "q_intersect" ->
      """SELECT c_nationkey AS nkey FROM customer
        |INTERSECT SELECT s_nationkey AS nkey FROM supplier
        |ORDER BY nkey""".stripMargin,
    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, price, rn FROM (
        |  SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS price,
        |    cast(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY floor((o_totalprice) * 100 + 0.5) / 100 DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_topk_pergroup" ->
      """SELECT o_custkey, o_orderkey, price FROM (
        |  SELECT o_custkey, o_orderkey, floor((o_totalprice) * 100 + 0.5) / 100 AS price,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY floor((o_totalprice) * 100 + 0.5) / 100 DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, price DESC, o_orderkey""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey, day, spend_7d, pr, cd FROM (
        |  SELECT o_custkey, o_orderkey,
        |    cast(datediff('day', DATE '1990-01-01', cast(o_orderdate AS DATE)) AS INTEGER) AS day,
        |    floor((sum(o_totalprice) OVER (PARTITION BY o_custkey
        |      ORDER BY datediff('day', DATE '1990-01-01', cast(o_orderdate AS DATE))
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS spend_7d,
        |    floor((percent_rank() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice, o_orderkey)) * 10000 + 0.5) / 10000 AS pr,
        |    floor((cume_dist() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice, o_orderkey)) * 10000 + 0.5) / 10000 AS cd
        |  FROM orders) t
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | floor((sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS running_spend,
        | floor((avg(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) * 100 + 0.5) / 100 AS moving_avg3
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_lag" ->
      """SELECT o_custkey, o_orderkey,
        | floor((lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey)) * 100 + 0.5) / 100 AS prev_price,
        | floor((o_totalprice - lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey)) * 100 + 0.5) / 100 AS delta
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        | coalesce(l_linestatus, 'ALL') AS ls,
        | floor((sum(l_quantity)) * 100 + 0.5) / 100 AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin,
    "q_ntile" ->
      """SELECT quartile, count(*) AS n,
        | floor((min(c_acctbal)) * 100 + 0.5) / 100 AS lo,
        | floor((max(c_acctbal)) * 100 + 0.5) / 100 AS hi
        |FROM (
        |  SELECT c_acctbal,
        |    cast(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
        |  FROM customer) t
        |GROUP BY quartile ORDER BY quartile""".stripMargin,
    "q_ntile_scaled" ->
      """WITH cuts AS (
        |  SELECT floor((quantile_cont(c_acctbal, 0.25)) * 100 + 0.5) / 100 AS q1,
        |         floor((quantile_cont(c_acctbal, 0.50)) * 100 + 0.5) / 100 AS q2,
        |         floor((quantile_cont(c_acctbal, 0.75)) * 100 + 0.5) / 100 AS q3
        |  FROM customer)
        |SELECT cast(1 + (CASE WHEN c_acctbal > q1 THEN 1 ELSE 0 END)
        |              + (CASE WHEN c_acctbal > q2 THEN 1 ELSE 0 END)
        |              + (CASE WHEN c_acctbal > q3 THEN 1 ELSE 0 END) AS INTEGER) AS quartile,
        |       count(*) AS n,
        |       floor((min(c_acctbal)) * 100 + 0.5) / 100 AS lo,
        |       floor((max(c_acctbal)) * 100 + 0.5) / 100 AS hi
        |FROM customer CROSS JOIN cuts
        |GROUP BY 1 ORDER BY quartile""".stripMargin,
    "q_first_last" ->
      """SELECT o_custkey, o_orderkey,
        | first_value(o_orderkey) OVER w AS first_order,
        | last_value(o_orderkey) OVER w AS last_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        | coalesce(l_linestatus, 'ALL') AS ls,
        | floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_price, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q_pivot_status" ->
      """SELECT o_orderpriority,
        | floor((sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END)) * 100 + 0.5) / 100 AS open_total,
        | floor((sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END)) * 100 + 0.5) / 100 AS done_total,
        | floor((sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END)) * 100 + 0.5) / 100 AS pending_total,
        | count(*) AS cnt
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the PIVOT result equals per-status conditional sums with
    // absent (priority, status) cells filled with 0
    "q_pivot_wide" ->
      """SELECT o_orderpriority,
        | floor((coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0)) * 100 + 0.5) / 100 AS open_total,
        | floor((coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0)) * 100 + 0.5) / 100 AS done_total,
        | floor((coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 0)) * 100 + 0.5) / 100 AS pending_total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_unpivot" ->
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |    cast(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |    cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled,
        |    cast(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT o_orderpriority, status, n
        |FROM wide UNPIVOT (n FOR status IN (n_open, n_fulfilled, n_partial))
        |ORDER BY o_orderpriority, status""".stripMargin,
    "q_case_when" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 'low'
        |  WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS bucket,
        | count(*) AS cnt, floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS total
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_events_hourly" ->
      """SELECT event_type, cast(extract(hour FROM ts) AS INTEGER) AS hr,
        | count(*) AS cnt, floor((sum(value)) * 100 + 0.5) / 100 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY event_type, hr""".stripMargin,
    "q_resample" ->
      """WITH sparse AS (
        |  SELECT event_type, cast(extract(hour FROM ts) AS INTEGER) AS hr,
        |         count(*) AS cnt,
        |         floor((sum(value)) * 100 + 0.5) / 100 AS total_value
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type, h.hr
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT cast(unnest(range(0, 24)) AS INTEGER) AS hr) h)
        |SELECT g.event_type, g.hr,
        |       coalesce(s.cnt, 0) AS cnt,
        |       coalesce(s.total_value, 0) AS total_value
        |FROM grid g LEFT JOIN sparse s
        |  ON g.event_type = s.event_type AND g.hr = s.hr
        |ORDER BY g.event_type, g.hr""".stripMargin,
    "q_ohlc" ->
      """SELECT event_type, cast(extract(hour FROM ts) AS INTEGER) AS hr,
        | floor((arg_min(value, ts)) * 100 + 0.5) / 100 AS open,
        | floor((max(value)) * 100 + 0.5) / 100 AS high,
        | floor((min(value)) * 100 + 0.5) / 100 AS low,
        | floor((arg_max(value, ts)) * 100 + 0.5) / 100 AS close,
        | count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, hr""".stripMargin,
    "q_funnel" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT count(*) AS n_users,
        | count(t_view) AS n_view,
        | cast(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        | cast(sum(CASE WHEN t_click > t_view AND t_purchase > t_click
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM per_user""".stripMargin,
    // the custom RollingFp expression replayed in pure SQL: the
    // 31·h+c polynomial folds left-to-right over the characters in
    // HUGEINT mod 2^64 (DuckDB BIGINT raises on overflow, so the
    // wraparound is explicit), then the splitmix64 finalizer — each
    // 64×64 multiply split into 32-bit halves to stay inside HUGEINT,
    // logical shifts as integer division on the non-negative residues
    // — and the unsigned result mapped back to Java's signed long.
    // Exercises every char of every doc: a single bit off anywhere
    // flips the hash
    "q_fingerprint" ->
      """SELECT doc_id,
        |  CASE WHEN z6 >= 9223372036854775808::HUGEINT
        |       THEN z6 - 18446744073709551616::HUGEINT ELSE z6 END::BIGINT AS fp
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      [1125899906842597::HUGEINT] ||
        |        list_transform(generate_series(1, length(text)),
        |          i -> unicode(substring(text, i, 1))::HUGEINT),
        |      (h, c) -> (31 * h + c) % 18446744073709551616::HUGEINT) AS h0,
        |    (h0 + 11400714819323198485::HUGEINT)
        |      % 18446744073709551616::HUGEINT AS z1,
        |    xor(z1, z1 // 1073741824) AS z2,
        |    ((z2 % 4294967296) * 484763065::HUGEINT
        |      + ((z2 % 4294967296) * 3210233709::HUGEINT
        |         + (z2 // 4294967296) * 484763065::HUGEINT)
        |        * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z3,
        |    xor(z3, z3 // 134217728) AS z4,
        |    ((z4 % 4294967296) * 321982955::HUGEINT
        |      + ((z4 % 4294967296) * 2496678331::HUGEINT
        |         + (z4 // 4294967296) * 321982955::HUGEINT)
        |        * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS z5,
        |    xor(z5, z5 // 2147483648) AS z6
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // int8 absmax quantize→dequantize→cosine replayed in SQL with the
    // engine's exact float semantics: the scale and the dequantized
    // values round through REAL (float32) at the same points Spark
    // does — a float×float product is exact in double, so
    // CAST(d AS REAL) reproduces the single-rounded float multiply —
    // and the cosine accumulates left-to-right in DOUBLE like VecImpl
    "q_quantize_error" ->
      """SELECT vec_id, floor(cos * 10000 + 0.5) / 10000 AS cos_fidelity
        |FROM (
        |  SELECT vec_id,
        |    CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |         ELSE d / (sqrt(na) * sqrt(nb)) END AS cos
        |  FROM (
        |    SELECT vec_id,
        |      list_reduce([0.0::DOUBLE] ||
        |        list_transform(generate_series(1, len(embedding)),
        |          i -> CAST(embedding[i] AS DOUBLE) * CAST(dqv[i] AS DOUBLE)),
        |        (a, b) -> a + b) AS d,
        |      list_reduce([0.0::DOUBLE] ||
        |        list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        |        (a, b) -> a + b) AS na,
        |      list_reduce([0.0::DOUBLE] ||
        |        list_transform(dqv, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        |        (a, b) -> a + b) AS nb
        |    FROM (
        |      SELECT vec_id, embedding,
        |        list_transform(qv, q ->
        |          CAST(CAST(q AS DOUBLE) * CAST(s AS DOUBLE) AS REAL)) AS dqv
        |      FROM (
        |        SELECT vec_id, embedding,
        |          CAST(CAST(list_max(list_transform(embedding, v -> abs(v))) AS DOUBLE)
        |               / 127.0 AS REAL) AS s,
        |          list_transform(embedding, v ->
        |            CASE WHEN s = 0 THEN 0
        |                 ELSE CAST(round(CAST(v AS DOUBLE) / CAST(s AS DOUBLE)) AS BIGINT)
        |            END) AS qv
        |        FROM embeddings))))
        |ORDER BY vec_id""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.token,
        |    floor((tf.tf * ln(n.n_docs / df.df)) * 10000 + 0.5) / 10000 AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (
        |  SELECT doc_id, token, score,
        |    cast(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, token) AS INTEGER) AS rk
        |  FROM s)
        |SELECT doc_id, token, score, rk FROM r
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |tot AS (SELECT doc_id, cast(sum(tf) AS BIGINT) AS n_tok,
        |               count(*) AS n_distinct
        |        FROM tf GROUP BY 1),
        |p AS (SELECT tf.doc_id, cast(tf.tf AS DOUBLE) / tot.n_tok AS p,
        |             tot.n_tok, tot.n_distinct
        |      FROM tf JOIN tot USING (doc_id))
        |SELECT doc_id,
        |       floor((-sum(p * ln(p))) * 10000 + 0.5) / 10000 AS entropy,
        |       any_value(n_tok) AS n_tok, any_value(n_distinct) AS n_distinct
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.token, tf.doc_id, tf.tf,
        |    floor((ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
        |           * tf.tf * 2.2
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / corpus.avgdl)))
        |          * 10000 + 0.5) / 10000 AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN corpus),
        |r AS (
        |  SELECT token, doc_id, tf, score,
        |    cast(row_number() OVER (PARTITION BY token
        |      ORDER BY score DESC, doc_id) AS INTEGER) AS rk
        |  FROM s)
        |SELECT token, doc_id, tf, score, rk FROM r
        |WHERE rk <= 10 ORDER BY token, rk""".stripMargin,
    // the oracle blocks with the PassJoin pigeonhole (d+1 chunks; an
    // ed<=d partner contains one verbatim) — a DIFFERENT lossless
    // filter than the Spark side's prefix-filtered q-grams, so a
    // false negative in either blocking diverges the hash
    "q_edit_join" ->
      """WITH a AS (SELECT p_partkey AS a_id,
        |        p_name || ' #' || cast(p_partkey AS VARCHAR) AS a_s FROM part),
        |b AS (SELECT p_partkey + 1000000 AS b_id,
        |        (CASE WHEN p_partkey % 3 = 0
        |               THEN substr(p_name, 1, 2) || substr(p_name, 4)
        |             WHEN p_partkey % 3 = 1 THEN p_name
        |             ELSE substr(p_name, 1, 4) || 'x' || substr(p_name, 6)
        |        END) || ' #' || cast(p_partkey AS VARCHAR) AS b_s
        |      FROM part),
        |ch AS (SELECT a_id, a_s,
        |        unnest([substr(a_s, 1, cast(ceil(length(a_s) / 2.0) AS INTEGER)),
        |                substr(a_s, cast(ceil(length(a_s) / 2.0) AS INTEGER) + 1)]) AS chunk
        |       FROM a),
        |cand AS (SELECT DISTINCT a_id, a_s, b_id, b_s
        |         FROM ch JOIN b ON abs(length(a_s) - length(b_s)) <= 1
        |                       AND contains(b_s, chunk))
        |SELECT a_id, b_id, cast(levenshtein(a_s, b_s) AS INTEGER) AS dist
        |FROM cand WHERE levenshtein(a_s, b_s) <= 1
        |ORDER BY a_id, b_id""".stripMargin,
    // the SQL-text spelling of the same join (planned by the
    // EdJoinRewrite optimizer rule) must reproduce the identical
    // decision set — same independent PassJoin oracle
    "q_edit_join_sql" ->
      """WITH a AS (SELECT p_partkey AS a_id,
        |        p_name || ' #' || cast(p_partkey AS VARCHAR) AS a_s FROM part),
        |b AS (SELECT p_partkey + 1000000 AS b_id,
        |        (CASE WHEN p_partkey % 3 = 0
        |               THEN substr(p_name, 1, 2) || substr(p_name, 4)
        |             WHEN p_partkey % 3 = 1 THEN p_name
        |             ELSE substr(p_name, 1, 4) || 'x' || substr(p_name, 6)
        |        END) || ' #' || cast(p_partkey AS VARCHAR) AS b_s
        |      FROM part),
        |ch AS (SELECT a_id, a_s,
        |        unnest([substr(a_s, 1, cast(ceil(length(a_s) / 2.0) AS INTEGER)),
        |                substr(a_s, cast(ceil(length(a_s) / 2.0) AS INTEGER) + 1)]) AS chunk
        |       FROM a),
        |cand AS (SELECT DISTINCT a_id, a_s, b_id, b_s
        |         FROM ch JOIN b ON abs(length(a_s) - length(b_s)) <= 1
        |                       AND contains(b_s, chunk))
        |SELECT a_id, b_id, cast(levenshtein(a_s, b_s) AS INTEGER) AS dist
        |FROM cand WHERE levenshtein(a_s, b_s) <= 1
        |ORDER BY a_id, b_id""".stripMargin,
    // the d = 2 twin: same independence argument, with the d+1 = 3
    // chunk pigeonhole (two edits touch at most two chunks, so an
    // ed<=2 partner contains at least one verbatim)
    "q_edit_join_sql2" ->
      """WITH p2 AS (SELECT * FROM part WHERE p_partkey % 2 = 0),
        |a AS (SELECT p_partkey AS a_id,
        |        p_name || ' #' || cast(p_partkey AS VARCHAR) AS a_s FROM p2),
        |b AS (SELECT p_partkey + 1000000 AS b_id,
        |        (CASE WHEN p_partkey % 3 = 0
        |               THEN substr(p_name, 1, 2) || substr(p_name, 5)
        |             WHEN p_partkey % 3 = 1 THEN p_name
        |             ELSE substr(p_name, 1, 4) || 'xy' || substr(p_name, 7)
        |        END) || ' #' || cast(p_partkey AS VARCHAR) AS b_s
        |      FROM p2),
        |k AS (SELECT a_id, a_s,
        |        cast(ceil(length(a_s) / 3.0) AS INTEGER) AS k1,
        |        cast(ceil((length(a_s) - ceil(length(a_s) / 3.0)) / 2.0) AS INTEGER) AS k2
        |      FROM a),
        |ch AS (SELECT a_id, a_s,
        |        unnest([substr(a_s, 1, k1), substr(a_s, k1 + 1, k2),
        |                substr(a_s, k1 + k2 + 1)]) AS chunk
        |       FROM k),
        |cand AS (SELECT DISTINCT a_id, a_s, b_id, b_s
        |         FROM ch JOIN b ON abs(length(a_s) - length(b_s)) <= 2
        |                       AND contains(b_s, chunk))
        |SELECT a_id, b_id, cast(levenshtein(a_s, b_s) AS INTEGER) AS dist
        |FROM cand WHERE levenshtein(a_s, b_s) <= 2
        |ORDER BY a_id, b_id""".stripMargin,
    // index-served keyword conjunction: build(even)+absorb(odd) covers
    // the full corpus, so the oracle scans `documents` directly
    "q_text_search" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |m AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |      WHERE token IN ('spark', 'merge') GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_matched,
        |       cast(sum(tf) AS BIGINT) AS total_tf
        |FROM m GROUP BY doc_id HAVING count(*) = 2 ORDER BY doc_id""".stripMargin,
    // index-served BM25 ≡ the corpus-scan formula; avgdl is spelled
    // sum/count on BOTH sides (the ledger folds exact integer sums,
    // so the division is bit-identical to the full-corpus one)
    "q_text_index_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |corpus AS (SELECT count(*) AS n_docs,
        |                  cast(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.token, tf.doc_id, tf.tf,
        |    floor((ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
        |           * tf.tf * 2.2
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / corpus.avgdl)))
        |          * 10000 + 0.5) / 10000 AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN corpus),
        |r AS (
        |  SELECT token, doc_id, tf, score,
        |    cast(row_number() OVER (PARTITION BY token
        |      ORDER BY score DESC, doc_id) AS INTEGER) AS rk
        |  FROM s)
        |SELECT token, doc_id, tf, score, rk FROM r
        |WHERE rk <= 10 ORDER BY token, rk""".stripMargin,
    // positional phrase search: the oracle re-derives 1-based token
    // positions and counts ADJACENT pairs (overlap-exact, unlike
    // substring replacement counting)
    "q_phrase_search" ->
      """WITH tok AS (
        |  SELECT doc_id, z.z[1] AS token, cast(z.z[2] AS BIGINT) AS pos
        |  FROM documents, unnest(list_zip(string_split(text, ' '),
        |       range(1, len(string_split(text, ' ')) + 1))) AS z(z))
        |SELECT t1.doc_id, cast(count(*) AS BIGINT) AS n_hits
        |FROM tok t1 JOIN tok t2
        |  ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        |WHERE t1.token = 'spark' AND t2.token = 'merge'
        |GROUP BY t1.doc_id ORDER BY t1.doc_id""".stripMargin,
    // proximity (NEAR/3) both modes from the positional index; the
    // oracle counts qualifying position PAIRS over the same list_zip
    // position replay as the phrase oracle
    "q_near_search" ->
      """WITH tok AS (
        |  SELECT doc_id, z.z[1] AS token, cast(z.z[2] AS BIGINT) AS pos
        |  FROM documents, unnest(list_zip(string_split(text, ' '),
        |       range(1, len(string_split(text, ' ')) + 1))) AS z(z)),
        |a AS (SELECT doc_id, pos FROM tok WHERE token = 'spark'),
        |b AS (SELECT doc_id, pos FROM tok WHERE token = 'merge'),
        |anym AS (
        |  SELECT a.doc_id, cast(count(*) AS BIGINT) AS n_hits
        |  FROM a JOIN b ON a.doc_id = b.doc_id
        |    AND b.pos <> a.pos AND abs(b.pos - a.pos) <= 3
        |  GROUP BY a.doc_id),
        |ordm AS (
        |  SELECT a.doc_id, cast(count(*) AS BIGINT) AS n_hits
        |  FROM a JOIN b ON a.doc_id = b.doc_id
        |    AND b.pos > a.pos AND b.pos - a.pos <= 3
        |  GROUP BY a.doc_id)
        |SELECT 'any' AS mode, doc_id, n_hits FROM anym
        |UNION ALL SELECT 'ord' AS mode, doc_id, n_hits FROM ordm
        |ORDER BY mode, doc_id""".stripMargin,
    // the TVF surface composed in one SQL statement over the index —
    // AND-conjunction docs left-joined with their NEAR/3 pair counts
    "q_text_tvf" ->
      """WITH tok AS (
        |  SELECT doc_id, z.z[1] AS token, cast(z.z[2] AS BIGINT) AS pos
        |  FROM documents, unnest(list_zip(string_split(text, ' '),
        |       range(1, len(string_split(text, ' ')) + 1))) AS z(z)),
        |m AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |      WHERE token IN ('spark', 'merge') GROUP BY 1, 2),
        |s AS (SELECT doc_id, count(*) AS n_matched,
        |        cast(sum(tf) AS BIGINT) AS total_tf
        |      FROM m GROUP BY doc_id HAVING count(*) = 2),
        |a AS (SELECT doc_id, pos FROM tok WHERE token = 'spark'),
        |b AS (SELECT doc_id, pos FROM tok WHERE token = 'merge'),
        |near AS (
        |  SELECT a.doc_id, cast(count(*) AS BIGINT) AS n_hits
        |  FROM a JOIN b ON a.doc_id = b.doc_id
        |    AND b.pos <> a.pos AND abs(b.pos - a.pos) <= 3
        |  GROUP BY a.doc_id)
        |SELECT s.doc_id, s.n_matched, s.total_tf,
        |  coalesce(near.n_hits, 0) AS near_hits
        |FROM s LEFT JOIN near ON s.doc_id = near.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u,
        | substr(p_name, 1, 8) AS name_prefix,
        | p_type || '/' || p_brand AS type_brand,
        | cast(length(p_name) AS INTEGER) AS name_len
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin,
    "q_events_json" ->
      """SELECT event_type, count(*) AS cnt,
        | cast(coalesce(sum(cast(json_extract_string(props, '$.k') AS INTEGER)), 0) AS BIGINT) AS k_sum,
        | floor((avg(cast(json_extract_string(props, '$.k') AS INTEGER))) * 100 + 0.5) / 100 AS k_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         cast(floor(epoch(ts)) AS BIGINT) AS epoch_s
        |  FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts, epoch_s,
        |    CASE WHEN lag(epoch_s) OVER w IS NULL
        |           OR epoch_s - lag(epoch_s) OVER w > 1800
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, epoch_s,
        |    cast(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM f)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |       max(epoch_s) - min(epoch_s) AS dur_sec
        |FROM g GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    // the native session_window closes a session when the gap reaches
    // gapSec exactly (exclusive window end) → break test is >=
    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
        |f AS (
        |  SELECT user_id, event_id, tu,
        |    CASE WHEN lag(tu) OVER w IS NULL
        |           OR tu - lag(tu) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)),
        |g AS (
        |  SELECT user_id, tu,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
        |  FROM f)
        |SELECT user_id, CAST(min(tu) // 1000000 AS BIGINT) AS session_start,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, seq
        |ORDER BY user_id, session_start""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id,
        | e.tu - b.tu AS gap_us,
        | floor((b.value) * 100 + 0.5) / 100 AS p_value
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu, value FROM events) e
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu, value FROM events
        |                WHERE event_type = 'purchase') b
        |  ON e.user_id = b.user_id AND e.tu >= b.tu
        |ORDER BY e.event_id""".stripMargin,
    // the TVF spelling must reproduce the identical decision set —
    // same DuckDB native-ASOF oracle
    "q_asof_tvf" ->
      """SELECT e.event_id, e.user_id,
        | e.tu - b.tu AS gap_us,
        | floor((b.value) * 100 + 0.5) / 100 AS p_value
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS tu, value FROM events) e
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS tu, value FROM events
        |                WHERE event_type = 'purchase') b
        |  ON e.user_id = b.user_id AND e.tu >= b.tu
        |ORDER BY e.event_id""".stripMargin,
    // oracle is the PLAIN join: salting must be result-invisible
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_range_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS tu, event_type FROM events)
        |SELECT e.err_id, count(*) AS n_after,
        | cast(sum(CASE WHEN a.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        |FROM (SELECT event_id AS err_id, user_id, tu AS err_tu FROM ev
        |      WHERE event_type = 'error') e
        |JOIN ev a ON a.user_id = e.user_id
        |  AND a.tu > e.err_tu AND a.tu <= e.err_tu + 300000000
        |GROUP BY e.err_id ORDER BY e.err_id""".stripMargin,
    // the pure-range spelling (no user key): planned by RangeJoinRewrite
    // into a binned equi-join; counts are per-error over ALL users
    "q_range_join_sql" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS tu, event_type FROM events)
        |SELECT e.err_id, count(*) AS n_after,
        | cast(sum(CASE WHEN a.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        |FROM (SELECT event_id AS err_id, tu AS err_tu FROM ev
        |      WHERE event_type = 'error') e
        |JOIN ev a ON a.tu > e.err_tu AND a.tu <= e.err_tu + 300000000
        |GROUP BY e.err_id ORDER BY e.err_id""".stripMargin,
    "q_sql_cte" ->
      """WITH spend AS (
        |  SELECT o_custkey, sum(o_totalprice) AS total
        |  FROM orders GROUP BY o_custkey)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |       floor((avg(total)) * 100 + 0.5) / 100 AS avg_spend
        |FROM customer JOIN spend ON c_custkey = o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_group_by_all" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS n,
        |       floor(sum(l_quantity) * 100 + 0.5) / 100 AS qty
        |FROM lineitem
        |GROUP BY ALL
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_recursive_cte" ->
      """WITH RECURSIVE chain(start_k, k, depth) AS (
        |  SELECT o_orderkey, o_orderkey, 0
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey <= 64
        |  UNION ALL
        |  SELECT c.start_k, o.o_orderkey, c.depth + 1
        |  FROM chain c JOIN orders o ON o.o_orderkey = c.k * 2
        |  WHERE c.depth < 12)
        |SELECT start_k, max(depth) AS chain_len, count(*) AS n_nodes
        |FROM chain GROUP BY start_k ORDER BY start_k""".stripMargin,
    // the vtable chase must visit exactly the nodes the declarative
    // recursion visits — file pruning must never change WHICH keys
    // match, so the oracle is the identical recursive SQL over orders
    "q_recursive_vtable" ->
      """WITH RECURSIVE chain(start_k, k, depth) AS (
        |  SELECT o_orderkey, o_orderkey, 0
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey <= 64
        |  UNION ALL
        |  SELECT c.start_k, o.o_orderkey, c.depth + 1
        |  FROM chain c JOIN orders o ON o.o_orderkey = c.k * 2
        |  WHERE c.depth < 12)
        |SELECT start_k, max(depth) AS chain_len, count(*) AS n_nodes
        |FROM chain GROUP BY start_k ORDER BY start_k""".stripMargin,
    "q_lateral_topn" ->
      """SELECT n.n_name, top.s_name,
        |       floor(top.s_acctbal * 100 + 0.5) / 100 AS bal
        |FROM nation n,
        |LATERAL (
        |  SELECT s_name, s_acctbal FROM supplier s
        |  WHERE s.s_nationkey = n.n_nationkey
        |  ORDER BY s_acctbal DESC, s_name LIMIT 2
        |) top
        |ORDER BY n.n_name, bal DESC, top.s_name""".stripMargin,
    "q_sample_mod" ->
      """SELECT count(*) AS n_rows, floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS total,
        | floor((avg(l_quantity)) * 100 + 0.5) / 100 AS avg_qty
        |FROM lineitem WHERE l_orderkey % 10 = 0""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        | floor((quantile_cont(l_extendedprice, 0.5)) * 100 + 0.5) / 100 AS p50,
        | floor((quantile_cont(l_extendedprice, 0.95)) * 100 + 0.5) / 100 AS p95,
        | floor((quantile_cont(l_quantity, 0.5)) * 100 + 0.5) / 100 AS qty_p50
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag,
        | floor((stddev_samp(l_quantity)) * 100 + 0.5) / 100 AS sd_qty,
        | floor((var_samp(l_discount)) * 10000 + 0.5) / 10000 AS var_disc,
        | floor((corr(l_quantity, l_extendedprice)) * 10000 + 0.5) / 10000 AS corr_qty_price,
        | floor((covar_samp(l_quantity, l_extendedprice)) * 100 + 0.5) / 100 AS cov_qty_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_anomaly" ->
      """WITH stats AS (
        |  SELECT event_type AS s_type, avg(value) AS mu,
        |         stddev_samp(value) AS sd
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        | floor((e.value) * 100 + 0.5) / 100 AS value,
        | floor(((e.value - s.mu) / s.sd) * 100 + 0.5) / 100 AS z
        |FROM events e JOIN stats s ON e.event_type = s.s_type
        |WHERE s.sd > 0
        |  AND abs(floor(((e.value - s.mu) / s.sd) * 100 + 0.5) / 100) >= 2.5
        |ORDER BY e.event_id""".stripMargin,
    "q_distinct_cond" ->
      """SELECT
        | count(DISTINCT CASE WHEN o_orderstatus = 'O' THEN o_custkey END) AS open_custs,
        | count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS done_custs,
        | count(DISTINCT CASE WHEN o_orderstatus = 'P' THEN o_custkey END) AS pending_custs,
        | count(DISTINCT o_custkey) AS all_custs
        |FROM orders""".stripMargin,
    "q_array_funcs" ->
      """SELECT vec_id,
        | cast(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        | floor((cast(list_aggregate(embedding, 'max') AS DOUBLE)) * 10000 + 0.5) / 10000 AS max_elem,
        | floor((list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)), 'sum')) * 10000 + 0.5) / 10000 AS l1_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_cohort_retention" ->
      """WITH d AS (
        |  SELECT user_id,
        |         cast(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT c.cohort_day, cast(d.day - c.cohort_day AS INTEGER) AS day_offset,
        |       count(DISTINCT d.user_id) AS n_active
        |FROM d JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    "q_pagerank" -> pageRankOracle(5),
    "q_histogram" ->
      """SELECT least(greatest(cast(floor((o_totalprice - 0.0) / 50000.0) AS BIGINT), 0), 11) AS bucket,
        | count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_collect_statuses" ->
      """SELECT o_custkey,
        | string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        | count(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // §2.3 dedup
    "q_url_dedup" ->
      s"""WITH c AS (
        |  SELECT doc_id, canonical
        |  FROM read_parquet('${graft.util.OracleExports.dir("url_canon")}/*.parquet'))
        |SELECT canonical, count(*) AS n_variants, min(doc_id) AS keeper
        |FROM c GROUP BY canonical HAVING count(*) > 1
        |ORDER BY canonical""".stripMargin,
    "q_dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        | count(DISTINCT lang) AS n_langs
        |FROM documents""".stripMargin,
    "q_dedup_keep_first" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q_ngram_jaccard" ->
      ("WITH " + shingleCte + ",\n" + pairCte + "\n" +
       """SELECT doc_a, doc_b, n_common,
        |       floor((n_common / (na.n_sh + nb.n_sh - n_common)) * 100 + 0.5) / 100 AS jaccard
        |FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id
        |WHERE floor((n_common / (na.n_sh + nb.n_sh - n_common)) * 100 + 0.5) / 100 >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin),
    // LSH ingest decision replay: Verify's q_dedup_ingest run exports
    // both halves' band tables to a per-run path (DedupIndex.
    // OracleExportDir, interpolated below at dump time — same JVM,
    // same path) BEFORE the gate runs this SQL on the same host; the
    // oracle independently re-derives the accepted decision set —
    // band equi-join, pair dedup, slot-match estimator at
    // numHashes=64, threshold 0.5 — from those signatures. The
    // estimator round matches Rnd.round's floor(x*100+0.5)/100.
    "q_dedup_ingest" ->
      s"""WITH cand AS (
        |  SELECT DISTINCT y.doc_id AS doc_id, x.doc_id AS dup_of,
        |         x.sig AS sig_x, y.sig AS sig_y
        |  FROM read_parquet('${operators.DedupIndex.OracleExportDir}/indexed/*.parquet') x
        |  JOIN read_parquet('${operators.DedupIndex.OracleExportDir}/probe/*.parquet') y
        |    ON x.band = y.band AND x.band_hash = y.band_hash
        |   AND x.doc_id <> y.doc_id
        |)
        |SELECT doc_id, dup_of,
        |  floor((len(list_filter(range(1, 65), i -> sig_x[i] = sig_y[i])) / 64.0) * 100 + 0.5) / 100 AS est_jaccard
        |FROM cand
        |WHERE floor((len(list_filter(range(1, 65), i -> sig_x[i] = sig_y[i])) / 64.0) * 100 + 0.5) / 100 >= 0.5
        |ORDER BY doc_id, dup_of""".stripMargin,
    // full-corpus MinHash+LSH decision replay — the same pattern over
    // the band table qMinhashLsh materializes (and reads back) per
    // run: band equi-join, pair dedup, slot-match estimator at
    // numHashes=64, threshold 0.5, all plain SQL given the signatures
    "q_minhash_lsh" ->
      s"""WITH cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |         x.sig AS sig_a, y.sig AS sig_b
        |  FROM read_parquet('${graft.util.OracleExports.dir("minhash_bands")}/*.parquet') x
        |  JOIN read_parquet('${graft.util.OracleExports.dir("minhash_bands")}/*.parquet') y
        |    ON x.band = y.band AND x.band_hash = y.band_hash
        |   AND x.doc_id < y.doc_id
        |)
        |SELECT doc_a, doc_b,
        |  floor((len(list_filter(range(1, 65), i -> sig_a[i] = sig_b[i])) / 64.0) * 100 + 0.5) / 100 AS est_jaccard
        |FROM cand
        |WHERE floor((len(list_filter(range(1, 65), i -> sig_a[i] = sig_b[i])) / 64.0) * 100 + 0.5) / 100 >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // SimHash decision replay: given the exported 64-bit signatures,
    // banding is shifts + masks, candidates a self-equi-join, and
    // hamming a popcount over xor — all plain SQL. DuckDB >> on
    // BIGINT is arithmetic like Spark's shiftright; the & 65535 mask
    // makes the sign extension irrelevant on both engines.
    "q_simhash" ->
      s"""WITH s AS (
        |  SELECT doc_id, sh
        |  FROM read_parquet('${graft.util.OracleExports.dir("simhash_sigs")}/*.parquet')),
        |b AS (
        |  SELECT doc_id, sh, band, (sh >> (band * 16)) & 65535 AS chunk
        |  FROM s CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |         x.sh AS sh_a, y.sh AS sh_b
        |  FROM b x JOIN b y
        |    ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sh_a, sh_b)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // SemDeDup decision replay: given the exported k-means cell
    // assignment, the drop rule (same-cell pair, lower-id keeper,
    // cosine >= 0.45) and the per-label rollup are plain SQL over the
    // embeddings table; cosines agree modulo last-ULP summation
    // differences, the standard cosine-oracle equivalence
    "q_semdedup" ->
      s"""WITH a AS (
        |  SELECT c.vec_id, c.cell, CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM read_parquet('${graft.util.OracleExports.dir("semdedup_cells")}/*.parquet') c
        |  JOIN embeddings e ON c.vec_id = e.vec_id),
        |drops AS (
        |  SELECT DISTINCT y.vec_id
        |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.emb, y.emb) >= 0.45)
        |SELECT e.label,
        |  count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  count(*) - CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.vec_id
        |GROUP BY e.label ORDER BY e.label""".stripMargin,
    // incremental SemDeDup ingest decision replay: given the exported
    // (vec_id, cell) maps of the indexed half and the probe batch, the
    // within-cell pair join, cosine, shared rounding formula, and
    // threshold are plain SQL over the embeddings table
    "q_semdedup_ingest" ->
      s"""WITH xi AS (
        |  SELECT c.vec_id, c.cell, CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM read_parquet('${graft.operators.SemDedupIndex.OracleExportDir}/indexed/*.parquet') c
        |  JOIN embeddings e ON c.vec_id = e.vec_id),
        |yp AS (
        |  SELECT c.vec_id, c.cell, CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM read_parquet('${graft.operators.SemDedupIndex.OracleExportDir}/probe/*.parquet') c
        |  JOIN embeddings e ON c.vec_id = e.vec_id)
        |SELECT y.vec_id AS vec_id, x.vec_id AS dup_of,
        |       floor(list_cosine_similarity(x.emb, y.emb) * 100 + 0.5) / 100 AS cos
        |FROM xi x JOIN yp y ON x.cell = y.cell
        |WHERE floor(list_cosine_similarity(x.emb, y.emb) * 100 + 0.5) / 100 >= 0.45
        |ORDER BY vec_id, dup_of""".stripMargin,
    // verbatim-span dedup: 8-token spans (the Spark side joins 8-byte
    // span hashes, the oracle joins the span strings — doc-level
    // outputs agree modulo 2^64 hash collisions, same accepted
    // equivalence as the jaccard pair oracle)
    "q_span_dedup" ->
      ("WITH " + spanCte + ",\n" +
       """o AS (SELECT span, min(doc_id) AS first_doc FROM s GROUP BY span)
        |SELECT s.doc_id, count(*) AS n_shared, min(o.first_doc) AS first_partner
        |FROM s JOIN o USING (span)
        |WHERE s.doc_id > o.first_doc
        |GROUP BY s.doc_id
        |ORDER BY s.doc_id""".stripMargin),
    // graded span overlap: per-doc fraction of spans owned earlier,
    // kept at the mostly-duplicate 0.5 cut
    "q_span_containment" ->
      ("WITH " + spanCte + ",\n" +
       """o AS (SELECT span, min(doc_id) AS first_doc FROM s GROUP BY span),
        |c AS (
        |  SELECT s.doc_id, count(*) AS n_spans,
        |    CAST(sum(CASE WHEN s.doc_id > o.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |  FROM s JOIN o USING (span)
        |  GROUP BY s.doc_id)
        |SELECT doc_id, n_spans, n_shared,
        |  floor((n_shared * 1.0 / n_spans) * 10000 + 0.5) / 10000 AS containment
        |FROM c
        |WHERE floor((n_shared * 1.0 / n_spans) * 10000 + 0.5) / 10000 >= 0.5
        |ORDER BY doc_id""".stripMargin),
    // incremental span ingest: odd docs probed against the even-doc
    // on-disk span index = odd docs sharing a span with any even doc
    "q_span_ingest" ->
      ("WITH " + spanCte + ",\n" +
       """o AS (SELECT span, min(doc_id) AS owner FROM s
        |      WHERE doc_id % 2 = 0 GROUP BY span)
        |SELECT s.doc_id, count(*) AS n_shared, min(o.owner) AS first_partner
        |FROM s JOIN o USING (span)
        |WHERE s.doc_id % 2 = 1
        |GROUP BY s.doc_id
        |ORDER BY s.doc_id""".stripMargin),
    // cross-source overlap: which sources share verbatim 8-token spans
    "q_cross_source_overlap" ->
      ("WITH " + spanCte + ",\n" +
       """x AS (SELECT DISTINCT source, span FROM s)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_spans
        |FROM x a JOIN x b ON a.span = b.span AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    // connected components as a transitive closure over the same pair
    // pipeline as q_ngram_jaccard (symmetrized edges; closure is finite
    // because UNION dedups); cluster id = component minimum
    "q_dup_clusters" ->
      (dupReachCte +
        """
        |SELECT src AS doc_id, least(min(dst), src) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
    // leakage-safe split: split by CLUSTER (near-dups can't straddle);
    // singletons are their own cluster; 8/1/1 by cluster_id % 10
    "q_leakage_split" ->
      (dupReachCte +
        """,
        |labels AS (SELECT src AS doc_id, least(min(dst), src) AS cluster_id
        |           FROM reach GROUP BY src),
        |assigned AS (
        |  SELECT documents.doc_id,
        |         coalesce(labels.cluster_id, documents.doc_id) AS cluster_id
        |  FROM documents LEFT JOIN labels ON documents.doc_id = labels.doc_id)
        |SELECT CASE WHEN cluster_id % 10 < 8 THEN 'train'
        |            WHEN cluster_id % 10 = 8 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters
        |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_dedup_near" ->
      (dupReachCte +
        """,
        |labels AS (SELECT src AS doc_id, least(min(dst), src) AS cluster_id
        |           FROM reach GROUP BY src),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size
        |       FROM labels GROUP BY cluster_id)
        |SELECT l.doc_id AS dropped_id, l.cluster_id AS keeper_id, sz.cluster_size
        |FROM labels l JOIN sz USING (cluster_id)
        |WHERE l.doc_id <> l.cluster_id ORDER BY dropped_id""".stripMargin),
    // keeper = longest doc per cluster (ties → lowest doc_id): a
    // window over the same CC labels, integer keys throughout
    "q_dedup_keep_best" ->
      (dupReachCte +
        """,
        |labels AS (SELECT src AS doc_id, least(min(dst), src) AS cluster_id
        |           FROM reach GROUP BY src),
        |j AS (SELECT l.doc_id, l.cluster_id, d.n_chars,
        |        cast(row_number() OVER (PARTITION BY l.cluster_id
        |          ORDER BY d.n_chars DESC, l.doc_id) AS INTEGER) AS rk
        |      FROM labels l JOIN documents d USING (doc_id)),
        |k AS (SELECT cluster_id, doc_id AS keeper_id, n_chars AS keeper_chars
        |      FROM j WHERE rk = 1)
        |SELECT j.doc_id AS dropped_id, k.keeper_id, k.keeper_chars
        |FROM j JOIN k USING (cluster_id)
        |WHERE j.rk <> 1 ORDER BY dropped_id""".stripMargin),
    "q_embed_neardup" ->
      """SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.label AS label,
        | floor((list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                              CAST(y.embedding AS DOUBLE[]))) * 100 + 0.5) / 100 AS cos
        |FROM embeddings x JOIN embeddings y
        |  ON x.label = y.label AND x.vec_id < y.vec_id
        |WHERE floor((list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                                   CAST(y.embedding AS DOUBLE[]))) * 100 + 0.5) / 100 >= 0.97
        |ORDER BY vec_a, vec_b""".stripMargin,
    // fuzzy dedup: DuckDB's levenshtein mirrors Spark's (unit-cost DP
    // over characters), so the pair list AND distances are hash-compared
    "q_dedup_fuzzy" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | levenshtein(a.text, b.text) AS dist
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND substr(a.text, 1, 24) = substr(b.text, 1, 24)
        |    AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text)
        |      <= 0.2 * greatest(length(a.text), length(b.text))
        |ORDER BY doc_a, doc_b""".stripMargin,
    // §2.4 similarity
    // MaxSim late interaction: per (label, query-token) max rounds
    // FIRST (like every cosine oracle), then the rounded maxes sum
    // data card: every measure shares its convention with the
    // standalone operator oracles (md5 content hash, \s+ tokens)
    "q_data_card" ->
      """SELECT count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS n_unique,
        | floor((1.0 - count(DISTINCT md5(text)) / count(*)) * 10000 + 0.5) / 10000 AS dup_rate,
        | count(DISTINCT lang) AS n_langs,
        | count(DISTINCT source) AS n_sources,
        | CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                          x -> x <> ''))) AS BIGINT) AS total_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | floor(avg(n_chars) * 100 + 0.5) / 100 AS avg_chars
        |FROM documents""".stripMargin,
    "q_maxsim" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id < 4),
        |m AS (
        |  SELECT e.label, q.q_id,
        |    floor(max(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb)) * 100 + 0.5) / 100 AS mx
        |  FROM embeddings e CROSS JOIN q
        |  GROUP BY e.label, q.q_id)
        |SELECT label, floor(sum(mx) * 100 + 0.5) / 100 AS maxsim
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    "q_ann_bruteforce" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb)) * 10000 + 0.5) / 10000 AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, vec_id, cos,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rk
        |  FROM s)
        |SELECT query_id, vec_id, cos, rk FROM r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // text-ANN decision replay: hash_embed is the non-SQL step; the
    // exported per-doc vectors (floats, exact parquet round-trip)
    // drive the same brute-force shape as q_ann_bruteforce
    "q_text_ann" ->
      s"""WITH v AS (
        |  SELECT doc_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM read_parquet('${graft.util.OracleExports.dir("text_ann_vecs")}/*.parquet')),
        |q AS (SELECT doc_id AS query_id, emb AS q_emb FROM v WHERE doc_id IN (1, 2, 3)),
        |s AS (
        |  SELECT q.query_id, v.doc_id,
        |    floor((list_cosine_similarity(v.emb, q.q_emb)) * 10000 + 0.5) / 10000 AS cos
        |  FROM v CROSS JOIN q WHERE v.doc_id <> q.query_id),
        |r AS (
        |  SELECT query_id, doc_id, cos,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, doc_id) AS INTEGER) AS rk
        |  FROM s)
        |SELECT query_id, doc_id, cos, rk FROM r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // LSH-bucketed ANN decision replay: hyperplane bucketing is the
    // non-SQL step; given (vec_id, bucket) the hamming-1 multiprobe
    // is xor arithmetic, and candidate restriction + scoring +
    // ranking are plain SQL over the embeddings table. A corpus
    // vector has ONE bucket, so it matches at most one probe per
    // query — DISTINCT is belt-and-braces, not a semantic change.
    "q_ann_lsh" ->
      s"""WITH bk AS (
        |  SELECT vec_id, bucket
        |  FROM read_parquet('${graft.util.OracleExports.dir("lsh_buckets")}/*.parquet')),
        |qp AS (
        |  SELECT vec_id AS query_id, bucket FROM bk WHERE vec_id IN (1, 2, 3)
        |  UNION
        |  SELECT b.vec_id AS query_id, xor(b.bucket, (1 << s.b)) AS bucket
        |  FROM bk b CROSS JOIN (SELECT unnest(range(0, 8)) AS b) s
        |  WHERE b.vec_id IN (1, 2, 3)),
        |cand AS (
        |  SELECT DISTINCT qp.query_id, bk.vec_id
        |  FROM bk JOIN qp USING (bucket) WHERE bk.vec_id <> qp.query_id),
        |s AS (
        |  SELECT c.query_id, c.vec_id,
        |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(qe.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos
        |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
        |  JOIN embeddings qe ON c.query_id = qe.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, cos,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rk
        |  FROM s)
        |SELECT query_id, vec_id, cos, rk FROM r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // IVF decision replay: the k-means cell map and the probe choices
    // are the exported non-SQL steps; candidates, scoring, ranking
    // replay in SQL. One cell per vector + distinct probe cells per
    // query → no duplicate candidates by construction.
    "q_ann_ivf" ->
      s"""WITH cells AS (
        |  SELECT vec_id, cell
        |  FROM read_parquet('${graft.util.OracleExports.dir("ivf_cells")}/*.parquet')),
        |p AS (
        |  SELECT query_id, cell
        |  FROM read_parquet('${graft.util.OracleExports.dir("ivf_probes")}/*.parquet')),
        |cand AS (
        |  SELECT p.query_id, c.vec_id FROM cells c JOIN p USING (cell)
        |  WHERE c.vec_id <> p.query_id),
        |s AS (
        |  SELECT c.query_id, c.vec_id,
        |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(qe.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos
        |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
        |  JOIN embeddings qe ON c.query_id = qe.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, cos,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rk
        |  FROM s)
        |SELECT query_id, vec_id, cos, rk FROM r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // MaxSim-IVF decision replay: the coarse-quantizer candidate
    // label set is exported; exact MaxSim over it is the q_maxsim
    // oracle restricted to those labels
    "q_maxsim_ivf" ->
      s"""WITH cl AS (
        |  SELECT label
        |  FROM read_parquet('${graft.util.OracleExports.dir("maxsim_ivf_labels")}/*.parquet')),
        |q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id < 4),
        |m AS (
        |  SELECT e.label, q.q_id,
        |    floor(max(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb)) * 100 + 0.5) / 100 AS mx
        |  FROM embeddings e JOIN cl USING (label) CROSS JOIN q
        |  GROUP BY e.label, q.q_id)
        |SELECT label, floor(sum(mx) * 100 + 0.5) / 100 AS maxsim
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    // topic clustering decision replay: the k-means assignment map is
    // the exported decision; metadata join, rollup, and the dominant-
    // source tie-break (max count, lexicographic min) replay in SQL
    "q_cluster_topics" ->
      s"""WITH cells AS (
        |  SELECT vec_id AS doc_id, cell AS topic
        |  FROM read_parquet('${graft.util.OracleExports.dir("topic_cells")}/*.parquet')),
        |j AS (
        |  SELECT c.topic, d.lang, d.source, d.n_chars
        |  FROM cells c JOIN documents d USING (doc_id)),
        |tc AS (SELECT topic, source, count(*) AS cnt FROM j GROUP BY 1, 2),
        |ts AS (
        |  SELECT topic, source AS top_source,
        |    row_number() OVER (PARTITION BY topic ORDER BY cnt DESC, source) AS rk
        |  FROM tc),
        |agg AS (
        |  SELECT topic, count(*) AS n_docs,
        |    floor((avg(n_chars)) * 100 + 0.5) / 100 AS avg_chars,
        |    count(DISTINCT lang) AS n_langs
        |  FROM j GROUP BY topic)
        |SELECT agg.topic, agg.n_docs, agg.avg_chars, agg.n_langs, ts.top_source
        |FROM agg JOIN ts USING (topic) WHERE ts.rk = 1
        |ORDER BY topic""".stripMargin,
    // Reciprocal Rank Fusion: the dense arm replays over the exported
    // hash-embedded vectors, the lexical arm is the n-gram-jaccard
    // oracle's own shingle/pair SQL, and the fused score — two double
    // divisions over integer ranks, summed in the same order — is
    // bit-identical across engines before its final round
    "q_hybrid_rrf" ->
      ("WITH " + shingleCte + ",\n" + pairCte + ",\n" +
       s"""v AS (
        |  SELECT doc_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM read_parquet('${graft.util.OracleExports.dir("hybrid_vecs")}/*.parquet')),
        |q AS (SELECT doc_id AS query_id, emb AS q_emb FROM v WHERE doc_id IN (1, 2, 3)),
        |ds AS (
        |  SELECT q.query_id, v.doc_id,
        |    floor((list_cosine_similarity(v.emb, q.q_emb)) * 10000 + 0.5) / 10000 AS cos
        |  FROM v CROSS JOIN q WHERE v.doc_id <> q.query_id),
        |dt AS (
        |  SELECT query_id, doc_id, dense_rk FROM (
        |    SELECT query_id, doc_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, doc_id) AS dense_rk
        |    FROM ds) x WHERE dense_rk <= 50),
        |j AS (
        |  SELECT doc_a, doc_b,
        |    floor((n_common / (na.n_sh + nb.n_sh - n_common)) * 100 + 0.5) / 100 AS jaccard
        |  FROM p JOIN n na ON p.doc_a = na.doc_id JOIN n nb ON p.doc_b = nb.doc_id),
        |lx AS (
        |  SELECT doc_a AS query_id, doc_b AS doc_id, jaccard FROM j WHERE doc_a IN (1, 2, 3)
        |  UNION ALL
        |  SELECT doc_b AS query_id, doc_a AS doc_id, jaccard FROM j WHERE doc_b IN (1, 2, 3)),
        |lr AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY jaccard DESC, doc_id) AS lex_rk
        |  FROM lx),
        |f AS (
        |  SELECT coalesce(dt.query_id, lr.query_id) AS query_id,
        |         coalesce(dt.doc_id, lr.doc_id) AS doc_id,
        |    floor((coalesce(CAST(1 AS DOUBLE) / (60 + dt.dense_rk), 0) +
        |           coalesce(CAST(1 AS DOUBLE) / (60 + lr.lex_rk), 0)) * 1000000 + 0.5) / 1000000 AS rrf
        |  FROM dt FULL OUTER JOIN lr
        |    ON dt.query_id = lr.query_id AND dt.doc_id = lr.doc_id),
        |r AS (
        |  SELECT query_id, doc_id, rrf,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf DESC, doc_id) AS INTEGER) AS rk
        |  FROM f)
        |SELECT query_id, doc_id, rrf, rk FROM r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin),
    // PQ/ADC decision replay: codes + per-query LUTs are the exported
    // non-SQL inputs; the ADC score is the SAME fixed left-to-right
    // 8-term sum over the SAME exported doubles in both engines
    // (bit-identical — no rounding needed for shortlist membership),
    // and the exact re-rank rides the standard cosine equivalence
    "q_ann_pq" ->
      s"""WITH codes AS (
        |  SELECT vec_id, codes
        |  FROM read_parquet('${graft.util.OracleExports.dir("pq_codes")}/*.parquet')),
        |luts AS (
        |  SELECT query_id, lut
        |  FROM read_parquet('${graft.util.OracleExports.dir("pq_luts")}/*.parquet')),
        |scored AS (
        |  SELECT l.query_id, c.vec_id,
        |    lut[1][codes[1] + 1] + lut[2][codes[2] + 1] + lut[3][codes[3] + 1] +
        |    lut[4][codes[4] + 1] + lut[5][codes[5] + 1] + lut[6][codes[6] + 1] +
        |    lut[7][codes[7] + 1] + lut[8][codes[8] + 1] AS score
        |  FROM codes c CROSS JOIN luts l WHERE c.vec_id <> l.query_id),
        |short AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, vec_id) AS srk
        |    FROM scored) t WHERE srk <= 40),
        |s AS (
        |  SELECT sh.query_id, sh.vec_id,
        |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(qe.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos
        |  FROM short sh JOIN embeddings e ON sh.vec_id = e.vec_id
        |  JOIN embeddings qe ON sh.query_id = qe.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, cos,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rk
        |  FROM s)
        |SELECT query_id, vec_id, cos, rk FROM r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // IVF-PQ decision replay: the full Jégou '11 serve pipeline in
    // SQL — probe-restricted candidates, bit-identical ADC shortlist,
    // exact cosine re-rank
    "q_ann_ivfpq" ->
      s"""WITH codes AS (
        |  SELECT vec_id, codes
        |  FROM read_parquet('${graft.util.OracleExports.dir("ivfpq_codes")}/*.parquet')),
        |luts AS (
        |  SELECT query_id, lut
        |  FROM read_parquet('${graft.util.OracleExports.dir("ivfpq_luts")}/*.parquet')),
        |cells AS (
        |  SELECT vec_id, cell
        |  FROM read_parquet('${graft.util.OracleExports.dir("ivfpq_cells")}/*.parquet')),
        |p AS (
        |  SELECT query_id, cell
        |  FROM read_parquet('${graft.util.OracleExports.dir("ivfpq_probes")}/*.parquet')),
        |scored AS (
        |  SELECT p.query_id, c.vec_id,
        |    lut[1][codes[1] + 1] + lut[2][codes[2] + 1] + lut[3][codes[3] + 1] +
        |    lut[4][codes[4] + 1] + lut[5][codes[5] + 1] + lut[6][codes[6] + 1] +
        |    lut[7][codes[7] + 1] + lut[8][codes[8] + 1] AS score
        |  FROM codes c
        |  JOIN cells cl ON c.vec_id = cl.vec_id
        |  JOIN p ON cl.cell = p.cell
        |  JOIN luts l ON l.query_id = p.query_id
        |  WHERE c.vec_id <> p.query_id),
        |short AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY score DESC, vec_id) AS srk
        |    FROM scored) t WHERE srk <= 40),
        |s AS (
        |  SELECT sh.query_id, sh.vec_id,
        |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(qe.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos
        |  FROM short sh JOIN embeddings e ON sh.vec_id = e.vec_id
        |  JOIN embeddings qe ON sh.query_id = qe.vec_id),
        |r AS (
        |  SELECT query_id, vec_id, cos,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rk
        |  FROM s)
        |SELECT query_id, vec_id, cos, rk FROM r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    // the band tests the rounded score in both engines, so the
    // lo/hi boundary decisions agree bit-for-bit
    "q_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
        |  FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |s AS (
        |  SELECT q.query_id, e.vec_id,
        |    floor((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb)) * 10000 + 0.5) / 10000 AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT query_id, vec_id, cos,
        |    cast(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rk
        |  FROM s WHERE cos >= 0.15 AND cos < 0.30)
        |SELECT query_id, vec_id, cos, rk FROM r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
    "q_cosine_pairs" ->
      """WITH s AS (
        |  SELECT x.label AS label, x.vec_id AS vec_a, y.vec_id AS vec_b,
        |    floor((list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                                 CAST(y.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos
        |  FROM embeddings x JOIN embeddings y
        |    ON x.label = y.label AND x.vec_id <> y.vec_id),
        |r AS (
        |  SELECT label, vec_a, vec_b, cos,
        |    cast(row_number() OVER (PARTITION BY vec_a
        |      ORDER BY cos DESC, vec_b) AS INTEGER) AS rk
        |  FROM s)
        |SELECT label, vec_a, vec_b, cos, rk FROM r
        |WHERE rk <= 3 ORDER BY vec_a, rk""".stripMargin,
    "q_label_centroids" ->
      """WITH u AS (
        |  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
        |         unnest(generate_series(1, len(embedding))) AS i
        |  FROM embeddings),
        |ds AS (SELECT label, i, sum(v) AS dim_sum FROM u GROUP BY 1, 2),
        |ss AS (SELECT label, floor((sum(dim_sum * dim_sum)) * 100 + 0.5) / 100 AS sum_sq
        |       FROM ds GROUP BY label),
        |cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
        |SELECT ss.label AS label, cnt.n AS n, ss.sum_sq AS sum_sq
        |FROM ss JOIN cnt ON ss.label = cnt.label ORDER BY label""".stripMargin,
    // §2.5 text analysis
    "q_token_count" ->
      """SELECT doc_id,
        | cast(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                      x -> x <> '')) AS INTEGER) AS n_tokens,
        | cast(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
        |                      x -> x <> '')) AS INTEGER) AS n_bpeish,
        | cast(length(text) AS INTEGER) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH c AS (
        |  SELECT doc_id, n_chars, length(text) AS lc,
        |         len(string_split(text, ' ')) AS nt,
        |         len(list_filter(string_split(text, ' '),
        |                         x -> x IN ('the', 'a'))) AS ns
        |  FROM documents)
        |SELECT doc_id, n_chars, cast(nt AS INTEGER) AS n_tokens,
        | floor(((lc - nt + 1) / nt) * 100 + 0.5) / 100 AS mean_tok_len,
        | floor((ns / nt) * 100 + 0.5) / 100 AS stop_ratio,
        | floor((least(nt / 50.0, 1.0) * 0.5
        |   + least((ns / nt) * 5.0, 1.0) * 0.3
        |   + (CASE WHEN (lc - nt + 1) / nt BETWEEN 3.0 AND 10.0
        |      THEN 1.0 ELSE 0.0 END) * 0.2) * 100 + 0.5) / 100 AS quality
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '), x -> x IN ('the','a','is'))) AS en,
        |    len(list_filter(string_split(text,' '), x -> x IN ('le','la','et'))) AS fr,
        |    len(list_filter(string_split(text,' '), x -> x IN ('el','los','y'))) AS es,
        |    len(list_filter(string_split(text,' '), x -> x IN ('der','und','die'))) AS de
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN en >= fr AND en >= es AND en >= de AND en > 0 THEN 'en'
        |         WHEN fr >= es AND fr >= de AND fr > 0 THEN 'fr'
        |         WHEN es >= de AND es > 0 THEN 'es'
        |         WHEN de > 0 THEN 'de'
        |         ELSE 'unknown' END AS pred_lang
        |  FROM h)
        |SELECT doc_id, lang, pred_lang,
        |       cast(pred_lang = lang AS INTEGER) AS is_hit
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_source_roundtrip" ->
      """SELECT fmt, count(*) AS n_rows, count(DISTINCT n_name) AS n_names
        |FROM (SELECT 'csv' AS fmt, n_name FROM nation
        |      UNION ALL SELECT 'json', n_name FROM nation
        |      UNION ALL SELECT 'orc', n_name FROM nation) u
        |GROUP BY fmt ORDER BY fmt""".stripMargin,
    // The JDBC-served nation dim must answer identically to the
    // parquet nation — federation may not change the result
    "q_federated" ->
      """SELECT n_name, count(*) AS n_orders,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // MERGE semantics reproduced in plain SQL: even keys keep their
    // price unless divisible by 3 (updated); odd multiples of 3 are
    "q_scd2" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_mktsegment AS segment, c_acctbal AS acctbal,
        |    TIMESTAMP '1995-01-01' AS valid_from,
        |    cast(NULL AS TIMESTAMP) AS valid_to, true AS is_current
        |  FROM customer WHERE c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    TIMESTAMP '1995-01-01', TIMESTAMP '2000-01-01', false
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, 'VIP', c_acctbal,
        |    TIMESTAMP '2000-01-01', cast(NULL AS TIMESTAMP), true
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'NEW', 0.0,
        |    TIMESTAMP '2000-01-01', cast(NULL AS TIMESTAMP), true
        |  FROM customer WHERE c_custkey % 13 = 0)
        |ORDER BY c_custkey, valid_from""".stripMargin,
    "q_scd2_pit" ->
      """SELECT segment, count(*) AS n_orders FROM (
        |  SELECT CASE WHEN c_custkey % 7 = 0
        |              AND o_orderdate >= TIMESTAMP '2000-01-01'
        |         THEN 'VIP' ELSE c_mktsegment END AS segment
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |GROUP BY segment ORDER BY segment""".stripMargin,
    // catalog introspection: the service's information_schema views
    // vs DuckDB's OWN information_schema over the same parquet-backed
    // views — one CASE maps DuckDB's type spellings to Spark's
    // catalogString, timestamps normalize to one label on both sides
    // the literal constraint roster of the fixture vtable: one CHECK,
    // one UNIQUE — gates the manifest encoding, the type classification,
    // and the information_schema.table_constraints rewrite surface
    "q_constraints_schema" ->
      """SELECT * FROM (
        |  SELECT 'cons_t' AS table_name, 'k_nonneg' AS constraint_name,
        |         'CHECK' AS constraint_type, 'k >= 0' AS definition
        |  UNION ALL
        |  SELECT 'cons_t', 'k_uq', 'UNIQUE', 'k')
        |ORDER BY constraint_name""".stripMargin,
    "q_info_schema" ->
      s"""SELECT t.table_name, c.column_name,
        |       CAST(c.ordinal_position AS INT) AS ordinal,
        |       CASE WHEN c.data_type LIKE 'TIMESTAMP%' THEN 'timestamp'
        |            WHEN c.data_type = 'BIGINT' THEN 'bigint'
        |            WHEN c.data_type = 'INTEGER' THEN 'int'
        |            WHEN c.data_type = 'VARCHAR' THEN 'string'
        |            WHEN c.data_type = 'FLOAT[]' THEN 'array<float>'
        |            ELSE lower(c.data_type) END AS data_type,
        |       c.is_nullable
        |FROM information_schema.columns c
        |JOIN information_schema.tables t ON c.table_name = t.table_name
        |WHERE t.table_name IN (${graft.service.InfoSchema.InfoNamesSql})
        |ORDER BY t.table_name, ordinal""".stripMargin,
    // the SQL-text DML path: merge (bump div-3 keys / insert the
    // unmatched), double div-5 prices, delete the expensive tail —
    // reproduced as nested CASE/WHERE over the same base
    "q_sql_merge" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(price)) * 100 + 0.5) / 100 AS total,
        | min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
        |FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN p * 2 ELSE p END AS price
        |  FROM (
        |    SELECT o_orderkey,
        |      CASE WHEN o_orderkey % 3 = 0
        |           THEN floor((o_totalprice * 1.1) * 100 + 0.5) / 100
        |           ELSE o_totalprice END AS p
        |    FROM orders
        |    WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) a) b
        |WHERE price <= 400000""".stripMargin,
    // the DIRECT query — the gate hashes the exported-and-read-back
    // vtable content against the answer the export persisted
    "q_export_roundtrip" ->
      """SELECT l_orderkey,
        |  CAST(sum(l_quantity) AS BIGINT) AS qty,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    // both worlds of the SQL branch-write loop reproduced from raw
    // orders: 'before' = the seeded div-3 slice (the parent as-of its
    // pre-merge version — branch writes must not leak), 'after' = the
    // branch's curated state (insert %3=1, update +1000 on %6=0,
    // delete %9=0) landed by MERGE BRANCH
    "q_branch_write" ->
      """WITH seed AS (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |final AS (
        |  SELECT o_orderkey,
        |    o_totalprice + CASE WHEN o_orderkey % 6 = 0 THEN 1000.0 ELSE 0.0 END AS price
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 3 = 1)
        |SELECT 'before' AS world, count(*) AS n_rows,
        |  floor(sum(price) * 100 + 0.5) / 100 AS total,
        |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
        |FROM seed
        |UNION ALL
        |SELECT 'after' AS world, count(*) AS n_rows,
        |  floor(sum(price) * 100 + 0.5) / 100 AS total,
        |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
        |FROM final
        |ORDER BY world""".stripMargin,
    // only the INSERT OVERWRITE's world survives: the div-3 slice
    "q_sql_insert" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(price)) * 100 + 0.5) / 100 AS total,
        | min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
        |FROM (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 3 = 0) t""".stripMargin,
    // both arms of the time-travel union reproduced from the raw
    // table: v1 = the even-key append, head = v1 minus the SQL DELETE
    "q_sql_timetravel" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 2 = 0)
        |SELECT 'v1' AS snap, count(*) AS n_rows,
        |  floor(sum(price) * 100 + 0.5) / 100 AS total
        |FROM base
        |UNION ALL
        |SELECT 'head' AS snap, count(*) AS n_rows,
        |  floor(sum(price) * 100 + 0.5) / 100 AS total
        |FROM base WHERE o_orderkey % 3 <> 0
        |ORDER BY snap""".stripMargin,
    // the general-MERGE clause algebra replayed as a left-join CASE
    // (matched arm: conditional delete via WHERE, first-match clause
    // order via CASE order) plus an anti-join insert arm; evens not
    // matched by source halve when divisible by 7
    "q_sql_merge_general" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 2 = 0),
        |src AS (
        |  SELECT o_orderkey,
        |    floor((o_totalprice * 1.1) * 100 + 0.5) / 100 AS price
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |merged AS (
        |  SELECT b.o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN b.price + s.price
        |         WHEN b.o_orderkey % 7 = 0 THEN b.price * 0.5
        |         ELSE b.price END AS price
        |  FROM base b LEFT JOIN src s USING (o_orderkey)
        |  WHERE s.o_orderkey IS NULL OR s.price <= 200000
        |  UNION ALL
        |  SELECT s.o_orderkey, s.price
        |  FROM src s LEFT JOIN base b USING (o_orderkey)
        |  WHERE b.o_orderkey IS NULL AND s.price <= 150000)
        |SELECT count(*) AS n_rows,
        | floor((sum(price)) * 100 + 0.5) / 100 AS total,
        | min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
        |FROM merged""".stripMargin,
    // the inserted rows
    "q_table_merge" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(price)) * 100 + 0.5) / 100 AS total
        |FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0
        |         THEN floor((o_totalprice * 1.1) * 100 + 0.5) / 100
        |         ELSE o_totalprice END AS price
        |  FROM orders
        |  WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) t""".stripMargin,
    // the predicate overwrite: evens minus the %5 slice, plus ALL %5
    // keys (replaced evens + net-new odds) at the discounted price
    "q_table_replace" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(price)) * 100 + 0.5) / 100 AS total,
        | CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_slice
        |FROM (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, floor((o_totalprice * 0.5) * 100 + 0.5) / 100
        |  FROM orders WHERE o_orderkey % 5 = 0) t""".stripMargin,
    // shallow-clone isolation, both directions: the source summary
    // must still be the plain evens snapshot; the clone summary must
    // be evens minus the COW-deleted %10 keys plus its own appended
    // odd-%3 rows at doubled price
    "q_table_clone" ->
      """WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
        |src AS (SELECT k, price FROM base WHERE k % 2 = 0),
        |cl AS (
        |  SELECT k, price FROM base WHERE k % 2 = 0 AND k % 10 <> 0
        |  UNION ALL
        |  SELECT k, floor((price * 2) * 100 + 0.5) / 100 AS price
        |  FROM base WHERE k % 2 = 1 AND k % 3 = 0)
        |SELECT * FROM (
        |  SELECT 'source' AS side, count(*) AS n_rows,
        |    floor((sum(price)) * 100 + 0.5) / 100 AS total,
        |    min(k) AS min_k, max(k) AS max_k FROM src
        |  UNION ALL
        |  SELECT 'clone', count(*), floor((sum(price)) * 100 + 0.5) / 100,
        |    min(k), max(k) FROM cl) u
        |ORDER BY side""".stripMargin,
    // COPY INTO exactly-once: evens loaded once (despite the re-run),
    // the grown directory contributes exactly the odd-%3 batch
    "q_copy_into" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(price)) * 100 + 0.5) / 100 AS total,
        | min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
        |FROM (
        |  SELECT o_orderkey, o_totalprice AS price FROM orders
        |  WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0) t""".stripMargin,
    // the branch workflow's final snapshot reconstructed in SQL: the
    // parent's disjoint update applies to the base, then the branch's
    // update/delete/insert replay over it — row-for-row, so fork,
    // branch commits, feed replay, and the un-forced conflict proof
    // all sit under one hash gate
    "q_table_branch" ->
      """WITH base AS (
        |  SELECT p_partkey AS k, p_name AS name, p_retailprice AS price
        |  FROM part),
        |after_main AS (
        |  SELECT k, name,
        |    CASE WHEN k % 10 = 1 THEN floor((price + 1) * 100 + 0.5) / 100
        |         ELSE price END AS price
        |  FROM base),
        |after_branch AS (
        |  SELECT k, name,
        |    CASE WHEN k % 10 = 0 THEN floor((price * 1.05) * 100 + 0.5) / 100
        |         ELSE price END AS price
        |  FROM after_main WHERE k % 10 <> 4),
        |ins AS (
        |  SELECT k + 10000000 AS k, name,
        |    floor((price / 2) * 100 + 0.5) / 100 AS price
        |  FROM base WHERE k % 10 = 6)
        |SELECT k, name, price FROM after_branch
        |UNION ALL SELECT k, name, price FROM ins
        |ORDER BY k""".stripMargin,
    // the one-statement parent-vs-branch join: after the merge the
    // live branch trails the parent by exactly the parent's own
    // post-fork update slice (k % 10 = 1, price + 1)
    "q_branch_read" ->
      """SELECT p_partkey AS k,
        |  floor((p_retailprice + 1) * 100 + 0.5) / 100 AS main_price,
        |  p_retailprice AS branch_price
        |FROM part WHERE p_partkey % 10 = 1
        |ORDER BY k""".stripMargin,
    // the immutable tag pinned at the pristine seed vs the post-merge
    // head: exactly the two updated slices diverge (branch's %10=0 at
    // *1.05, parent's %10=1 at +1); deletes drop out of the inner
    // join and inserts have no seed row
    "q_table_tag" ->
      """SELECT p_partkey AS k,
        |  p_retailprice AS seed_price,
        |  CASE WHEN p_partkey % 10 = 0
        |       THEN floor((p_retailprice * 1.05) * 100 + 0.5) / 100
        |       ELSE floor((p_retailprice + 1) * 100 + 0.5) / 100
        |       END AS head_price
        |FROM part WHERE p_partkey % 10 IN (0, 1)
        |ORDER BY k""".stripMargin,
    // every diff class derived from part with the fixture's own CASE
    // arithmetic: deletes at their OLD values, update pre/post pairs
    // for both the parent's and the branch's slices, branch inserts
    "q_table_diff" ->
      """WITH base AS (
        |  SELECT p_partkey AS k, p_name AS name, p_retailprice AS price
        |  FROM part)
        |SELECT k, name, price, 'delete' AS _change_type
        |FROM base WHERE k % 10 = 4
        |UNION ALL
        |SELECT k, name, price, 'update_preimage' FROM base WHERE k % 10 IN (0, 1)
        |UNION ALL
        |SELECT k, name,
        |  CASE WHEN k % 10 = 0 THEN floor((price * 1.05) * 100 + 0.5) / 100
        |       ELSE floor((price + 1) * 100 + 0.5) / 100 END AS price,
        |  'update_postimage' AS _change_type
        |FROM base WHERE k % 10 IN (0, 1)
        |UNION ALL
        |SELECT k + 10000000 AS k, name,
        |  floor((price / 2) * 100 + 0.5) / 100 AS price,
        |  'insert' AS _change_type
        |FROM base WHERE k % 10 = 6
        |ORDER BY k, _change_type""".stripMargin,
    // every change class reconstructed in SQL: v1 inserts = the evens
    // append, v2 pre/postimages = the merge's matched keys (evens ∩
    // div3) at old/bumped price + inserts = unmatched div3, v3 deletes
    // = div5 keys of the POST-MERGE snapshot at their then-current
    // price — the feed's content, not just its row counts, is gated
    "q_cdf" -> cdfOracle,
    "q_tvf_changes" -> cdfOracle,
    // the Bloom-pruned point lookup must return exactly the rows the
    // plain md5-equality filter selects — index-driven file skipping
    // may change how many files open, never the answer
    // the TVF's manifest-exact columns recomputed from raw rows: the
    // fixture holds exactly lineitem's %3>=1 slice as (k, price)
    "q_table_stats" ->
      """WITH head AS (
        |  SELECT l_orderkey AS k, l_extendedprice AS price
        |  FROM lineitem WHERE l_orderkey % 3 >= 1),
        |s AS (
        |  SELECT 'k' AS col_name, count(*) AS n_rows,
        |    count(*) - count(k) AS n_nulls,
        |    CAST(min(k) AS VARCHAR) AS min_val,
        |    CAST(max(k) AS VARCHAR) AS max_val FROM head
        |  UNION ALL
        |  SELECT 'price', count(*), count(*) - count(price),
        |    CAST(min(price) AS VARCHAR), CAST(max(price) AS VARCHAR) FROM head)
        |SELECT col_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
        |  min_val, max_val
        |FROM s ORDER BY col_name""".stripMargin,
    // metadata-only sketch-sidecar answers, bound-verified: both
    // engines recompute exact rank spans and the exact key overlap
    // from raw lineitem rows against the exported estimates
    "q_sketch_sidecars" ->
      s"""WITH est AS (
        |  SELECT v50, v95, est_overlap
        |  FROM read_parquet('${graft.util.OracleExports.dir("sketch_sidecars")}/*.parquet')),
        |head AS (
        |  SELECT l_orderkey AS k, l_extendedprice AS price
        |  FROM lineitem WHERE l_orderkey % 3 >= 1),
        |a AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN h.price <= e.v50 THEN 1 ELSE 0 END) AS BIGINT) AS le50,
        |    CAST(sum(CASE WHEN h.price <  e.v50 THEN 1 ELSE 0 END) AS BIGINT) AS lt50,
        |    CAST(sum(CASE WHEN h.price <= e.v95 THEN 1 ELSE 0 END) AS BIGINT) AS le95,
        |    CAST(sum(CASE WHEN h.price <  e.v95 THEN 1 ELSE 0 END) AS BIGINT) AS lt95
        |  FROM head h CROSS JOIN est e),
        |ov AS (
        |  SELECT count(DISTINCT l_orderkey) AS ex_overlap
        |  FROM lineitem WHERE l_orderkey % 3 = 1)
        |SELECT floor(e.v50 * 10000 + 0.5) / 10000 AS p50,
        |  floor(e.v95 * 10000 + 0.5) / 10000 AS p95,
        |  a.n,
        |  (le50 >= n * 0.5 - (n * 0.03 + 1.0)) AND (lt50 <= n * 0.5 + (n * 0.03 + 1.0)) AS p50_ok,
        |  (le95 >= n * 0.95 - (n * 0.03 + 1.0)) AND (lt95 <= n * 0.95 + (n * 0.03 + 1.0)) AS p95_ok,
        |  e.est_overlap,
        |  abs(e.est_overlap - ov.ex_overlap) <= greatest(ov.ex_overlap * 0.05, 3.0) AS overlap_ok
        |FROM est e CROSS JOIN a CROSS JOIN ov""".stripMargin,
    "q_bloom_lookup" ->
      """SELECT count(*) AS n_rows,
        | coalesce(floor((sum(o_totalprice)) * 100 + 0.5) / 100, 0.0) AS total
        |FROM orders
        |WHERE md5(CAST(o_orderkey AS VARCHAR)) = md5('100')""".stripMargin,
    // the vtable holds exactly orders' rows; readWhere's data skipping
    // must not change WHICH rows a filter returns, only how many files
    // it opens — so the oracle is the plain filtered aggregate
    "q_vtable_skip" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total,
        | min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
        |FROM orders WHERE o_custkey BETWEEN 100 AND 500""".stripMargin,
    // the filter travels through a temp view and plain SQL — the lazy
    // relation + optimizer rule must prune files WITHOUT changing the
    // matching row set, so the oracle is again the plain filtered agg
    "q_vtable_lazy" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total,
        | min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM orders WHERE o_custkey BETWEEN 700 AND 900 AND o_totalprice > 1000""".stripMargin,
    // the Spark side answers these from the manifest's per-file stats
    // alone (no data file opened); the oracle aggregates the rows the
    // honest way — any drift in the stats arithmetic diverges the hash
    "q_vtable_meta" ->
      """SELECT count(*) AS n_rows, count(o_custkey) AS n_ck,
        | min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok,
        | min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders""".stripMargin,
    // the Spark side semi-joins the vtable scan against a parquet key
    // table (keys exist only as data → any file skipping is dynamic,
    // from executed bounds); the oracle rebuilds the key set with the
    // same mod predicate — pruning must never change WHICH rows match
    "q_vtable_dfp" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total,
        | min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
        |FROM orders WHERE o_custkey % 97 = 0""".stripMargin,
    // point-SET skipping (readWhere + isin): the sparse key set spans
    // the clustered table end to end, so band pruning would admit
    // every file; the IN-set constraint opens only admitting files —
    // and must return exactly the plain IN filter's rows
    "q_vtable_in" ->
      """SELECT count(*) AS n_rows,
        | coalesce(floor((sum(o_totalprice)) * 100 + 0.5) / 100, 0.0) AS total,
        | min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
        |FROM orders WHERE o_custkey IN (97, 194, 9700)""".stripMargin,
    // disjunctive skipping: each OR branch prunes with its own
    // constraint set; a file opens when SOME branch survives — and
    // the result must equal the plain SQL disjunction's rows
    "q_vtable_or" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total,
        | min(o_custkey) AS min_ck, max(o_custkey) AS max_ck
        |FROM orders
        |WHERE (o_custkey BETWEEN 20 AND 80 AND o_totalprice > 2000)
        |   OR o_custkey BETWEEN 120 AND 140""".stripMargin,
    // two vintages — (int, float) files widened in place to (long,
    // double) with NO rewrite — must read back as the same union the
    // oracle builds explicitly, float round-trip and all
    "q_table_evolve" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(p)) * 100 + 0.5) / 100 AS total,
        | min(k) AS min_k, max(k) AS max_k
        |FROM (
        |  SELECT o_orderkey AS k,
        |         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS p
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 = 0
        |)""".stripMargin,
    // rename + drop + re-add were METADATA-ONLY commits: the oracle
    // rebuilds the final logical snapshot from orders directly —
    // renamed `amount` must serve pre-rename files' stored `price`,
    // and dropped `pri` values must NOT resurrect for pre-drop rows
    // (their pri is null; only the re-added era carries values)
    "q_table_rename" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(amount)) * 100 + 0.5) / 100 AS total,
        | count(pri) AS n_pri, min(pri) AS min_pri, max(k) AS max_k
        |FROM (
        |  SELECT o_orderkey AS k, o_totalprice AS amount,
        |         CAST(NULL AS VARCHAR) AS pri
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR)
        |  FROM orders WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, substr(o_orderpriority, 1, 1)
        |  FROM orders WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 <> 0
        |    AND o_orderkey % 5 = 0
        |)""".stripMargin,
    // ONE mixed CDC batch (upsert-inserts, plain inserts, and per-key
    // update-then-delete conflicts) applied onto the even-key base;
    // the oracle rebuilds the final snapshot from orders directly, so
    // sequence resolution and delete semantics are hash-gated
    "q_table_apply" ->
      """SELECT count(*) AS n_rows,
        | floor((sum(p)) * 100 + 0.5) / 100 AS total,
        | min(k) AS min_k, max(k) AS max_k
        |FROM (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
        |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 1000 FROM orders
        |  WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 <> 0 AND o_orderkey % 3 <> 0
        |    AND o_orderkey % 5 = 0
        |)""".stripMargin,
    // the view was maintained INCREMENTALLY across three append+refresh
    // cycles; the oracle is the direct one-shot aggregate over all of
    // orders — gating that the incremental merge algebra is exact
    "q_mview" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        | floor((avg(o_totalprice)) * 100 + 0.5) / 100 AS avg_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the SQL-DDL-driven twin: CREATE + two REFRESHes over the service
    // must land on the identical aggregate of the full table
    "q_sql_mview" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        | floor((avg(o_totalprice)) * 100 + 0.5) / 100 AS avg_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the view was maintained by one full compute plus two SIGNED-DELTA
    // folds of the change feed (across a MERGE and a DELETE); the
    // oracle aggregates the final snapshot directly — any drop or
    // double-count in the ±delta algebra diverges the hash
    "q_mview_cdf" ->
      """WITH evens AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |upd AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pri,
        |    floor((o_totalprice * 1.1) * 100 + 0.5) / 100 AS price
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |snap AS (
        |  SELECT coalesce(u.k, e.k) AS k, coalesce(u.pri, e.pri) AS pri,
        |    coalesce(u.price, e.price) AS price
        |  FROM evens e FULL OUTER JOIN upd u ON e.k = u.k)
        |SELECT pri, count(*) AS n_orders,
        | floor((sum(price)) * 100 + 0.5) / 100 AS total,
        | floor((avg(price)) * 100 + 0.5) / 100 AS avg_price
        |FROM snap WHERE k % 5 <> 0
        |GROUP BY pri ORDER BY pri""".stripMargin,
    // the view follows the BRANCH: fork snapshot (evens) plus the two
    // branch-only odd slices; the parent's own post-fork slice
    // (odd, %3=2) must be absent — its absence proves the view tracks
    // the branch's commit log, not the parent's
    "q_mview_branch" ->
      """SELECT o_orderpriority AS pri, count(*) AS n_orders,
        | floor((sum(o_totalprice)) * 100 + 0.5) / 100 AS total
        |FROM orders
        |WHERE o_orderkey % 2 = 0
        |   OR (o_orderkey % 2 = 1 AND o_orderkey % 3 IN (0, 1))
        |GROUP BY o_orderpriority ORDER BY pri""".stripMargin,
    "q_curate" ->
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |c AS (
        |  SELECT d.lang, d.source,
        |    len(string_split(d.text, ' ')) AS n_tokens,
        |    len(list_filter(string_split(d.text, ' '),
        |                    x -> x IN ('the', 'a'))) * 1.0
        |      / len(string_split(d.text, ' ')) AS stop_ratio
        |  FROM documents d JOIN keep USING (doc_id))
        |SELECT lang, source, count(*) AS n_docs,
        | cast(sum(n_tokens) AS BIGINT) AS total_tokens,
        | floor((avg(stop_ratio)) * 100 + 0.5) / 100 AS avg_stop_ratio
        |FROM c WHERE n_tokens >= 20 AND stop_ratio >= 0.01
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // all-integer comparisons (ratios cross-multiplied), so the
    // first-failing-rule attribution is engine-exact
    "q_filter_cascade" ->
      """WITH s AS (
        |  SELECT CASE
        |    WHEN n_chars < 100 THEN 1
        |    WHEN lang <> 'en' THEN 2
        |    WHEN 25 * len(list_filter(string_split(text, ' '),
        |                  x -> x = 'the' OR x = 'a'))
        |         < len(string_split(text, ' ')) THEN 3
        |    WHEN 2 * (len(string_split(text, ' '))
        |              - len(list_distinct(string_split(text, ' '))))
        |         > len(string_split(text, ' ')) THEN 4
        |    ELSE 5 END AS stage
        |  FROM documents)
        |SELECT cast(stage AS INTEGER) AS stage,
        |  CASE stage WHEN 1 THEN 'short' WHEN 2 THEN 'other_lang'
        |    WHEN 3 THEN 'low_stopword' WHEN 4 THEN 'repetitive'
        |    ELSE 'pass' END AS rule,
        |  cast(count(*) AS BIGINT) AS n_docs
        |FROM s GROUP BY stage ORDER BY stage""".stripMargin,
    "q_decontaminate" -> decontaminateSql,
    // semantic decontamination decision replay: given the exported
    // (vec_id, cell) maps of the benchmark index and the corpus
    // assignment, the within-cell pair join, cosine, shared rounding,
    // threshold, and per-doc aggregation are plain SQL
    "q_decontaminate_sem" ->
      s"""WITH b AS (
        |  SELECT c.vec_id, c.cell, CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM read_parquet('${graft.operators.SemDecontam.OracleExportDir}/bench/*.parquet') c
        |  JOIN embeddings e ON c.vec_id = e.vec_id),
        |co AS (
        |  SELECT c.vec_id, c.cell, CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM read_parquet('${graft.operators.SemDecontam.OracleExportDir}/corpus/*.parquet') c
        |  JOIN embeddings e ON c.vec_id = e.vec_id)
        |SELECT y.vec_id AS vec_id,
        |  count(*) AS n_bench_hits,
        |  max(floor(list_cosine_similarity(x.emb, y.emb) * 100 + 0.5) / 100) AS max_cos
        |FROM b x JOIN co y ON x.cell = y.cell
        |WHERE floor(list_cosine_similarity(x.emb, y.emb) * 100 + 0.5) / 100 >= 0.40
        |GROUP BY y.vec_id
        |ORDER BY vec_id""".stripMargin,
    // bit-identical by construction: the Bloom stage only pre-filters,
    // the exact-confirm join restores exact semantics — so the bloom
    // variant answers to the SAME oracle as the exact plan
    "q_decontaminate_bloom" -> decontaminateSql,
    "q_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(ceil(len(w) / 3.0) AS INT) AS n_chunks,
        |         unnest(range(0, CAST(ceil(len(w) / 3.0) AS INT))) AS chunk_idx,
        |         unnest(list_transform(range(0, CAST(ceil(len(w) / 3.0) AS INT)),
        |           i -> array_to_string(list_slice(w, i*3 + 1, i*3 + 3), ' '))) AS chunk
        |  FROM d),
        |kept AS (
        |  SELECT doc_id, n_chunks, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY chunk
        |                            ORDER BY doc_id, chunk_idx) AS rk
        |  FROM c QUALIFY rk = 1)
        |SELECT doc_id,
        |       array_to_string(list(chunk ORDER BY chunk_idx), ' ') AS text_clean,
        |       any_value(n_chunks) AS n_chunks,
        |       CAST(count(*) AS INT) AS n_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // packing: plain window cumsum in the oracle; the Spark plan
    // computes the same positions via the two-level block prefix sum
    "q_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         cast(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                              x -> x <> '')) AS BIGINT) AS tokens
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, tokens,
        |         cast(coalesce(sum(tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM toks WHERE tokens > 0),
        |spans AS (
        |  SELECT doc_id, tokens, s,
        |         unnest(range(s // 512, (s + tokens - 1) // 512 + 1)) AS pack_id
        |  FROM pos)
        |SELECT pack_id, count(*) AS n_docs,
        |       cast(sum(least((pack_id + 1) * 512, s + tokens)
        |                - greatest(pack_id * 512, s)) AS BIGINT) AS n_tokens
        |FROM spans GROUP BY pack_id ORDER BY pack_id""".stripMargin,
    "q_shuffle_order" ->
      """WITH h AS (
        |  SELECT doc_id, ((doc_id % 1000000007) * 2654435761) % 1000000007 AS hv
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |         cast(row_number() OVER (ORDER BY hv, doc_id) AS BIGINT) - 1 AS pos
        |  FROM h)
        |SELECT pos // 100 AS rank_bucket, count(*) AS n,
        |       cast(sum(doc_id) AS BIGINT) AS sum_doc_ids,
        |       min(pos) AS min_pos, max(pos) AS max_pos
        |FROM r GROUP BY rank_bucket ORDER BY rank_bucket""".stripMargin,
    "q_domain_mix" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |w(lang, weight) AS (VALUES
        |  ('en', 0.50), ('de', 0.20), ('es', 0.15), ('fr', 0.10), ('zh', 0.05)),
        |rates AS (
        |  SELECT c.lang, c.n_lang,
        |         least(10000, cast(floor(
        |           least(1.0, cast(w.weight AS DOUBLE) * t.n_total * 0.5 / c.n_lang)
        |             * 10000 + 0.5) AS BIGINT)) AS gate
        |  FROM counts c JOIN w USING (lang),
        |       (SELECT cast(sum(n_lang) AS BIGINT) AS n_total FROM counts) t),
        |sampled AS (
        |  SELECT d.lang, count(*) AS n_sampled
        |  FROM documents d JOIN rates r USING (lang)
        |  WHERE (((d.doc_id % 1000000007) * 2654435761) % 1000000007) % 10000 < r.gate
        |  GROUP BY d.lang)
        |SELECT r.lang, r.n_lang,
        |       cast(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled,
        |       floor((r.gate / 10000.0) * 10000 + 0.5) / 10000 AS rate
        |FROM rates r LEFT JOIN sampled s USING (lang)
        |ORDER BY r.lang""".stripMargin,
    // epoch replication: whole epochs via integer division of the
    // quantized gate, the fractional epoch via the same portable
    // mod-hash as q_domain_mix
    "q_mix_upsample" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |w(lang, weight) AS (VALUES
        |  ('en', 0.50), ('de', 0.20), ('es', 0.15), ('fr', 0.10), ('zh', 0.05)),
        |rates AS (
        |  SELECT c.lang,
        |         cast(floor((cast(w.weight AS DOUBLE) * t.n_total * 2.0 / c.n_lang)
        |           * 10000 + 0.5) AS BIGINT) AS gate
        |  FROM counts c JOIN w USING (lang),
        |       (SELECT cast(sum(n_lang) AS BIGINT) AS n_total FROM counts) t),
        |rep AS (
        |  SELECT d.lang, (r.gate // 10000)
        |    + CASE WHEN (((d.doc_id % 1000000007) * 2654435761) % 1000000007) % 10000
        |        < r.gate % 10000 THEN 1 ELSE 0 END AS n_rep
        |  FROM documents d JOIN rates r USING (lang)),
        |e AS (SELECT lang, unnest(range(1, n_rep + 1)) AS epoch
        |      FROM rep WHERE n_rep > 0)
        |SELECT lang, cast(epoch AS BIGINT) AS epoch, count(*) AS n_docs
        |FROM e GROUP BY lang, epoch ORDER BY lang, epoch""".stripMargin,
    // DSIR selection: per-token log-ratios quantized to integer
    // millionths (identical doubles in both engines), doc scores are
    // integer sums, top-k deterministic via (score desc, doc_id)
    "q_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |raw AS (SELECT tok, cast(count(*) AS BIGINT) AS rc FROM toks GROUP BY tok),
        |tgt AS (SELECT tok, cast(count(*) AS BIGINT) AS tc
        |        FROM toks WHERE lang = 'en' GROUP BY tok),
        |m AS (SELECT r.tok, r.rc, cast(coalesce(t.tc, 0) AS BIGINT) AS tc
        |      FROM raw r LEFT JOIN tgt t USING (tok)),
        |scal AS (SELECT cast(sum(tc) AS BIGINT) AS tn,
        |                cast(sum(rc - tc) AS BIGINT) AS cn,
        |                cast(count(*) AS BIGINT) AS v FROM m),
        |wts AS (
        |  SELECT m.tok, cast(floor((ln(m.tc + 1) - ln(s.tn + s.v)
        |      - (ln(m.rc - m.tc + 1) - ln(s.cn + s.v))) * 1000000 + 0.5) AS BIGINT) AS w
        |  FROM m, scal s)
        |SELECT o.doc_id, cast(sum(w.w) AS BIGINT) AS score_q
        |FROM toks o JOIN wts w USING (tok)
        |GROUP BY o.doc_id
        |ORDER BY score_q DESC, doc_id LIMIT 25""".stripMargin,
    // PSI drift monitor: per-bin contributions quantized to integer
    // 1e-8ths so the floating sum is order-independent
    "q_drift" ->
      """WITH e AS (
        |  SELECT event_type,
        |         date_diff('day', DATE '1970-01-01', cast(ts AS DATE)) % 2 AS win,
        |         least(9, greatest(0, cast(floor(value / 50.0) AS INT))) AS bin
        |  FROM events),
        |counts AS (
        |  SELECT event_type, win, bin, count(*) AS c FROM e GROUP BY 1, 2, 3),
        |totals AS (
        |  SELECT event_type, win, count(*) AS n FROM e GROUP BY 1, 2),
        |grid AS (
        |  SELECT DISTINCT event_type, unnest(range(0, 10)) AS bin FROM e),
        |j AS (
        |  SELECT g.event_type, g.bin,
        |         (coalesce(r.c, 0) + 0.5) / (nr.n + 5.0) AS p_ref,
        |         (coalesce(u.c, 0) + 0.5) / (nu.n + 5.0) AS p_cur,
        |         nr.n AS n_ref, nu.n AS n_cur
        |  FROM grid g
        |  LEFT JOIN counts r ON r.event_type = g.event_type AND r.bin = g.bin
        |    AND r.win = 0
        |  LEFT JOIN counts u ON u.event_type = g.event_type AND u.bin = g.bin
        |    AND u.win = 1
        |  JOIN totals nr ON nr.event_type = g.event_type AND nr.win = 0
        |  JOIN totals nu ON nu.event_type = g.event_type AND nu.win = 1)
        |SELECT event_type, min(n_ref) AS n_ref, min(n_cur) AS n_cur,
        |       floor((cast(sum(cast(floor(((p_cur - p_ref) * ln(p_cur / p_ref))
        |           * 100000000 + 0.5) AS BIGINT)) AS BIGINT) / 100000000.0)
        |         * 1000000 + 0.5) / 1000000 AS psi
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_chunk_docs" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, cast(i AS INT) AS chunk_idx,
        |         list_slice(w, i * 48 + 1, i * 48 + 64) AS cw
        |  FROM docs, unnest(range(0, greatest(1,
        |    cast(ceil((len(w) - 64) / 48.0) AS BIGINT) + 1))) AS r(i)
        |  WHERE len(w) > 0)
        |SELECT doc_id, chunk_idx,
        |       cast(len(cw) AS INT) AS n_tokens,
        |       array_to_string(cw, ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // bigram LM train+score (CCNet-style perplexity gate), exactly
    // reproduced via the same quantized-log trick as q_nb_filter
    "q_lm_score" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        |  FROM docs, unnest(range(1, len(w))) AS r(i)
        |  WHERE len(w) >= 2),
        |tr AS (SELECT * FROM bg WHERE doc_id % 2 = 0),
        |ctx AS (SELECT w1, count(*) AS ctx_n FROM tr GROUP BY w1),
        |pc AS (SELECT w1, w2, count(*) AS c FROM tr GROUP BY w1, w2),
        |vocab AS (SELECT cast(count(DISTINCT w2) AS BIGINT) AS v FROM tr),
        |scored AS (
        |  SELECT b.doc_id, count(*) AS n_bigrams,
        |         cast(sum(CASE WHEN x.ctx_n IS NULL
        |           THEN cast(floor((ln(1.0) - ln(vb.v)) * 1000000 + 0.5) AS BIGINT)
        |           ELSE cast(floor((ln(coalesce(p.c, 0) + 1)
        |             - ln(x.ctx_n + vb.v)) * 1000000 + 0.5) AS BIGINT)
        |         END) AS BIGINT) AS lp_sum
        |  FROM bg b
        |  LEFT JOIN pc p ON b.w1 = p.w1 AND b.w2 = p.w2
        |  LEFT JOIN ctx x ON b.w1 = x.w1, vocab vb
        |  WHERE b.doc_id % 2 = 1
        |  GROUP BY b.doc_id)
        |SELECT doc_id, n_bigrams,
        |       floor((cast(lp_sum AS DOUBLE) / (n_bigrams * 1000000.0)) * 10000 + 0.5)
        |         / 10000 AS avg_lp
        |FROM scored ORDER BY doc_id""".stripMargin,
    // Naive Bayes train+score, exactly reproduced: quantized integer
    // log-odds make document scores order-independent sums
    "q_nb_filter" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |ratio AS (
        |  SELECT doc_id,
        |         cast(len(list_filter(w, x -> x = 'the' OR x = 'a')) AS DOUBLE)
        |           / len(w) AS stop_ratio
        |  FROM docs WHERE len(w) > 0),
        |med AS (
        |  SELECT quantile_cont(stop_ratio, 0.5) AS med
        |  FROM ratio WHERE doc_id % 2 = 0),
        |labeled AS (
        |  SELECT doc_id, cast(stop_ratio > med AS INT) AS label FROM ratio, med),
        |occ AS (
        |  SELECT doc_id, unnest(w) AS tok FROM docs),
        |tr AS (
        |  SELECT o.tok, l.label FROM occ o JOIN labeled l USING (doc_id)
        |  WHERE doc_id % 2 = 0),
        |counts AS (
        |  SELECT tok, cast(sum(label) AS BIGINT) AS c1,
        |         cast(sum(1 - label) AS BIGINT) AS c0
        |  FROM tr GROUP BY tok),
        |tot AS (
        |  SELECT cast(sum(label) AS BIGINT) AS t1,
        |         cast(sum(1 - label) AS BIGINT) AS t0,
        |         cast(count(DISTINCT tok) AS BIGINT) AS v
        |  FROM tr),
        |pri AS (
        |  SELECT cast(sum(label) AS BIGINT) AS n1,
        |         cast(sum(1 - label) AS BIGINT) AS n0
        |  FROM labeled WHERE doc_id % 2 = 0),
        |wts AS (
        |  SELECT tok, cast(floor((ln(c1 + 1) - ln(t1 + v)
        |           - (ln(c0 + 1) - ln(t0 + v))) * 1000000 + 0.5) AS BIGINT) AS w
        |  FROM counts, tot),
        |consts AS (
        |  SELECT cast(floor((ln(t0 + v) - ln(t1 + v)) * 1000000 + 0.5) AS BIGINT) AS w0,
        |         cast(floor((ln(n1 + cast(1 AS DOUBLE)) - ln(n0 + cast(1 AS DOUBLE)))
        |           * 1000000 + 0.5) AS BIGINT) AS prior_q
        |  FROM tot, pri),
        |scored AS (
        |  SELECT o.doc_id, l.label AS actual,
        |         cast(sum(coalesce(w.w, c.w0)) AS BIGINT) AS ev
        |  FROM occ o JOIN labeled l USING (doc_id)
        |       LEFT JOIN wts w ON o.tok = w.tok, consts c
        |  WHERE o.doc_id % 2 = 1
        |  GROUP BY o.doc_id, l.label)
        |SELECT s.actual, cast(c.prior_q + s.ev > 0 AS INT) AS pred,
        |       count(*) AS n
        |FROM scored s, consts c
        |GROUP BY 1, 2 ORDER BY actual, pred""".stripMargin,
    "q_redact" ->
      """SELECT doc_id,
        | cast(length(text) AS INTEGER) AS len_before,
        | cast(length(regexp_replace(text, 'spark', '[X]', 'g')) AS INTEGER) AS len_after,
        | cast(len(string_split_regex(text, 'spark')) - 1 AS INTEGER) AS n_redactions
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_pii_scan" ->
      """SELECT doc_id,
        | cast(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        | cast(len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b')) AS INTEGER) AS n_phones,
        | cast(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ips,
        | cast((len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(text, '\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b'))
        |     + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) > 0) AS INTEGER) AS has_pii
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, len(w) AS n_tokens,
        |         len(list_distinct(w)) AS n_distinct,
        |         len(list_distinct(list_transform(
        |           range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS n_distinct_bi
        |  FROM d WHERE len(w) >= 2)
        |SELECT doc_id, cast(n_tokens AS INTEGER) AS n_tokens,
        | floor((1.0 - n_distinct / n_tokens) * 10000 + 0.5) / 10000 AS dup_unigram_ratio,
        | floor((1.0 - n_distinct_bi / (n_tokens - 1)) * 10000 + 0.5) / 10000 AS dup_bigram_ratio
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_group_sample" ->
      """SELECT lang, rk, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    cast(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
        |  FROM documents) t
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    // deterministic weighted priority sample: engine-portable integer
    // uniform, priority = u/weight, bottom-k — pure IEEE division of
    // integers, identical everywhere
    "q_weighted_sample" ->
      """SELECT doc_id, n_chars,
        |  floor(((((doc_id % 1000003) * 2654435761) % 1000003 + 0.5) / n_chars) * 1000000 + 0.5) / 1000000 AS priority
        |FROM documents
        |WHERE n_chars > 0
        |ORDER BY priority, doc_id
        |LIMIT 100""".stripMargin,
    "q_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled,
        | floor((avg(n_chars)) * 100 + 0.5) / 100 AS avg_chars
        |FROM documents
        |WHERE doc_id % 100 < (CASE WHEN lang = 'en' THEN 80
        |                           WHEN lang = 'zh' THEN 50 ELSE 20 END)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_term_stats" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents) u
        |GROUP BY token ORDER BY tf DESC, token LIMIT 50""".stripMargin,
    // the Misra-Gries sketch is EXACT while the observed vocabulary
    // fits its capacity (128 >> synthetic vocab), so the oracle is the
    // plain exact per-language top-k
    "q_heavy_hitters" ->
      """SELECT lang, term, cnt, rk FROM (
        |  SELECT lang, term, count(*) AS cnt,
        |    cast(row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, term) AS INTEGER) AS rk
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
        |        FROM documents) s
        |  GROUP BY lang, term) t
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,
  )
}
