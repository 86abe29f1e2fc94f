package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Rnd.round

import graft.functions.GraftFunctions
import graft.sources.Tables

/** Deduplication suite for the LLM-pipeline surface (SURVEY.md §2.3).
  *
  * All near-dup paths are inverted-index joins — candidate pairs are
  * generated per bucket (shingle / minhash band / simhash band), never
  * by an O(n²) cross join, so they scale with Σ bucket² rather than
  * n². Skew guard: shingles above a document-frequency cap (stopword
  * shingles at corpus scale) are dropped before the self-join.
  *
  * Algorithms follow the public literature: MinHash resemblance
  * (Broder, "On the Resemblance and Containment of Documents", 1997),
  * LSH banding (Leskovec/Rajaraman/Ullman, Mining of Massive
  * Datasets ch.3), SimHash (Charikar, "Similarity Estimation
  * Techniques from Rounding Algorithms", STOC 2002; Manku et al.,
  * WWW 2007 for the hamming-band trick), and near-dedup for LM
  * corpora (Lee et al., "Deduplicating Training Data Makes Language
  * Models Better", ACL 2022).
  */
object Dedup {

  /** Canonical content identity for exact dedup — shared by every
    * consumer (qDedupExact/qDedupKeepFirst/Curate) so "same document"
    * means one thing across the library.
    */
  def contentHash: org.apache.spark.sql.Column = md5(col("text"))

  /** Exact duplicate stats by content hash: one pruned scan, one
    * hash-agg. At 100 TB md5(text) shuffles 16-byte keys, not text.
    */
  def qDedupExact(t: Tables): DataFrame =
    t.documents.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(contentHash).as("n_unique"),
      countDistinct(col("lang")).as("n_langs"))

  /** Exact dedup keep-first: min(doc_id) survives per content hash.
    * Output one row per distinct content — the dedup'd corpus keys.
    */
  def qDedupKeepFirst(t: Tables): DataFrame =
    t.documents
      .groupBy(contentHash.as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("content_hash", "keep_id", "n_copies")
      .orderBy("keep_id")

  /** Memoized scored candidate pairs, shared by every near-dup
    * consumer (qNgramJaccard, qDupClusters). The shingle explode +
    * inverted-index self-join is the expensive stage; its output — one
    * row per candidate pair with the Jaccard score, tiny relative to
    * the corpus — is computed eagerly once per (session, corpus,
    * params) and cached. The big intermediate (the capped inverted
    * index) is unpersisted as soon as the pairs materialize, and the
    * LRU bound unpersists the eldest pair table when invocations roam
    * across corpora — nothing accumulates for the session lifetime.
    * Unfiltered by threshold so consumers with different thresholds
    * share one entry.
    */
  def ngramPairs(t: Tables, k: Int = 5, dfCap: Int = 50): DataFrame =
    pairsCache.getOrBuild(t, (k, dfCap))(buildNgramPairs(t, k, dfCap))

  private val pairsCache = new graft.util.CorpusMemo[DataFrame](2, _.unpersist())

  /** Word-k-gram Jaccard near-dup pairs via inverted-index self-join.
    *
    * shingle → (shingle, doc) index → DF-capped → equi-self-join on
    * shingle (a < b) → |∩| per pair → Jaccard against per-doc shingle
    * counts. The shuffle keys on the shingle string, so pair
    * generation is per-posting-list; the DF cap bounds the worst
    * posting list (at web scale, boilerplate shingles) to `dfCap²`
    * pairs.
    */
  private def buildNgramPairs(t: Tables, k: Int, dfCap: Int): DataFrame = {
    // The corpus arrives as few parquet row groups locally — spread
    // the CPU-heavy shingling across all cores (a no-op rebalance on
    // a many-file 100 TB corpus). Docs shorter than k tokens produce
    // zero shingles and drop out naturally (same as the oracle's
    // length guard).
    val docs = t.documents.repartition(col("doc_id"))
      .select(col("doc_id"), col("text"))
    // Shingles carry through the joins as 8-byte hash keys, not
    // strings — 4x less shuffle and long-vs-long join compares.
    // (Collision odds at 2^64 are ~n²/2^65 — irrelevant even at 100 TB
    // per-bucket volumes.) word_shingles is one codegen'd tight-loop
    // pass per row; the transform(sequence)+concat_ws pipeline it
    // replaced built per-shingle strings through Catalyst machinery.
    val shingled = docs
      .select(col("doc_id"),
        explode(GraftFunctions.wordShingles(col("text"), k)).as("shingle"))
    // DF cap via partial-agg count + broadcast ANTI join of the hot
    // set — a window over `shingle` would put a stopword shingle's
    // whole posting list on one task (no map-side combine); this way
    // skewed shingles never key a shuffle.
    val hot = shingled.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("shingle")
    // The capped inverted index feeds three consumers (per-doc counts
    // and both self-join sides); persist so the shingle explode +
    // anti-join runs once, spilling to disk at scale.
    val capped = shingled.join(broadcast(hot), Seq("shingle"), "left_anti")
      .select("doc_id", "shingle")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = capped.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val scored = pairs
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 2))
      .select("doc_a", "doc_b", "n_common", "jaccard")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scored.count()     // materialize now, while the index is cached
    capped.unpersist() // then release the only big intermediate
    scored
  }

  /** Verbatim-SPAN dedup — the substring-overlap family (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022): a document is listed for DROP when it shares ANY k-token
    * verbatim span with an EARLIER document (lower doc_id), whether or
    * not that earlier document itself survives — the order-independent,
    * SQL-expressible form of greedy keep-first. Distinct from the
    * Jaccard path: ONE shared long span convicts; there is no
    * similarity threshold and no pair enumeration.
    *
    * 100 TB shape: the per-span min-owner is a WINDOW min inside the
    * span-keyed shuffle — but a plain `min over (partition by span)`
    * puts a boilerplate span's ENTIRE posting list (license headers,
    * navigation chrome: guaranteed hot keys at web scale) into ONE
    * window partition on one task, and WindowExec has no partial
    * aggregation and no AQE skew split. So postings are ROUTED first
    * (see [[routedSpans]]): spans above a document-frequency cap
    * resolve their owner from a pre-aggregated broadcast sliver (the
    * agg's map-side combine bounds any one span to one row per scan
    * task — the skew never keys a shuffle), and only the ≤`hotCap`-row
    * cold partitions reach the window. Per-window-partition rows are
    * bounded BY CONSTRUCTION at max(hotCap, per-doc span
    * multiplicity), for any corpus. Spans travel as 8-byte hashes,
    * never strings. Output: each dropped doc, how many convicting
    * postings, and its earliest partner — identical, for every
    * `hotCap`, to the unrouted window form (SpanDedupSpec proves it
    * on a planted 10⁴-owner mega-span).
    */
  def qSpanDedup(t: Tables, k: Int = 8, hotCap: Int = 4096): DataFrame = {
    val routed = routedSpans(t.documents, k, hotCap)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("span", "_salt")
    routed
      .withColumn("first_doc", coalesce(col("hot_first"), min("doc_id").over(w)))
      .filter(col("doc_id") > col("first_doc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"), min("first_doc").as("first_partner"))
      .orderBy("doc_id")
  }

  /** Span CONTAINMENT — the graded form of [[qSpanDedup]] (Lee et
    * al.'s "substantial overlap" rule): per document, the fraction of
    * its k-token spans already owned by an EARLIER document. Where
    * span dedup convicts on ANY shared span, containment measures HOW
    * MUCH of the document is verbatim-recycled — the standard
    * "mostly-duplicate" threshold drop (a 0.5 cut drops docs that are
    * half boilerplate/quote even when no single doc matches them
    * whole). Same routed postings as qSpanDedup — identical skew
    * bounds — plus one per-doc count that rides the same final agg.
    */
  def qSpanContainment(t: Tables, k: Int = 8, hotCap: Int = 4096,
      threshold: Double = 0.5): DataFrame = {
    val routed = routedSpans(t.documents, k, hotCap)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("span", "_salt")
    routed
      .withColumn("first_doc", coalesce(col("hot_first"), min("doc_id").over(w)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("doc_id") > col("first_doc"), 1L).otherwise(0L))
          .as("n_shared"))
      .withColumn("containment", round(col("n_shared") / col("n_spans"), 4))
      .filter(col("containment") >= threshold)
      .orderBy("doc_id")
  }

  /** Skew-routed span postings: (doc_id, span, hot_first, _salt) where
    * `hot_first` is the global min owner for spans whose posting count
    * exceeds `hotCap` (null otherwise) and `_salt` spreads hot spans'
    * rows so `Window.partitionBy(span, _salt)` never concentrates a
    * hot posting list: cold rows salt 0 (their window partition IS the
    * span, ≤ hotCap rows); hot rows salt on doc_id (window output is
    * ignored — coalesce takes the sliver's owner — so each partition
    * collapses to the per-doc posting multiplicity).
    *
    * Costs one extra codegen'd shingle pass (the sliver agg and the
    * routing join each consume the postings; persisting a corpus-scale
    * posting list would cost far more than rescanning), plus a
    * broadcast of the sliver — bounded by postings/hotCap rows and in
    * practice the handful of true boilerplate spans; raise `hotCap`
    * if a corpus is pathologically templated. Same df-cap idea as
    * [[ngramPairs]]' `hot` anti-join, kept as a separate inline shape
    * because here the hot rows are rescued (owner via sliver), not
    * dropped.
    */
  private[graft] def routedSpans(docs: DataFrame, k: Int, hotCap: Int): DataFrame = {
    def postings = docs.repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(GraftFunctions.wordShingles(col("text"), k)).as("span"))
    val hotOwners = postings.groupBy("span")
      .agg(min("doc_id").as("hot_first"), count(lit(1)).as("_df"))
      .filter(col("_df") > hotCap)
      .select("span", "hot_first")
    postings.join(broadcast(hotOwners), Seq("span"), "left")
      .withColumn("_salt",
        when(col("hot_first").isNull, lit(0L)).otherwise(col("doc_id")))
  }

  /** Cross-SOURCE verbatim-overlap matrix — the corpus-curation
    * diagnostic behind span dedup: for every pair of sources, how many
    * distinct k-token spans do they share? (Which crawls re-crawl each
    * other; where does boilerplate concentrate; which acquisitions add
    * nothing new.) The self-join keys on the span hash AFTER
    * project-to-(span, source)-distinct, so a span's posting list is
    * bounded by |sources| — pairs per span are |sources|²/2 at worst,
    * a constant; corpus size only widens the span dimension, which the
    * distinct partial-agg combines map-side. Same 8-byte span hashes
    * as [[qSpanDedup]].
    */
  def qCrossSourceOverlap(t: Tables, k: Int = 8): DataFrame = {
    // One agg keyed on span replaces the distinct + self-join: a
    // span's posting list is bounded by |sources| (a constant), so
    // collect_set(source) per span is a bounded-state aggregate whose
    // partial combine dedups map-side, and the a<b pairs enumerate
    // from the sorted set as a codegen'd array expression. Same pairs,
    // same counts as the self-join spelling (each shared span counts
    // an unordered source pair exactly once), but the explode crosses
    // the wire once instead of three times — the old plan exchanged
    // for the distinct, then re-exchanged BOTH self-join sides on
    // span (guide §2.4: remove shuffles outright).
    val srcSets = t.documents.repartition(col("doc_id"))
      .select(col("source"),
        explode(GraftFunctions.wordShingles(col("text"), k)).as("span"))
      .groupBy("span").agg(sort_array(collect_set("source")).as("srcs"))
      .filter(size(col("srcs")) > 1)
    srcSets
      .select(explode(flatten(transform(col("srcs"), (a, i) =>
        transform(slice(col("srcs"), i + 2, size(col("srcs"))),
          b => struct(a.as("src_a"), b.as("src_b"))))))
        .as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_spans"))
      .orderBy("src_a", "src_b")
  }

  /** LEAKAGE-SAFE train/val/test split: assign splits by CLUSTER, not
    * by document, so near-duplicates can never straddle a split
    * boundary (the eval-set contamination a doc-hash split silently
    * creates whenever the corpus has near-dups — the reason dedup-
    * aware splitting is standard pretraining practice). Cluster id
    * comes from the same memoized CC label table as [[qDupClusters]];
    * docs in no near-dup pair are their own singleton cluster. The
    * assignment is `cluster_id % 10` → 8/1/1 — deterministic, engine-
    * portable integer arithmetic (no engine-specific hash in the
    * oracle contract), trivially swappable for a salted hash in
    * production. Output is the per-split summary; the per-doc
    * assignment is the obvious intermediate.
    *
    * 100 TB: one left join of the corpus' doc_id column against the
    * (small — docs-in-any-pair) label table, then a 3-group agg.
    */
  def qLeakageSafeSplit(t: Tables, threshold: Double = 0.6): DataFrame = {
    val labels = corpusDupLabels(t, threshold)
    val assigned = t.documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(col("cluster_id") % 10 < 8, "train")
          .when(col("cluster_id") % 10 === 8, "val")
          .otherwise("test"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster_id").as("n_clusters"))
      .orderBy("split")
  }

  /** Near-dup pair report at a Jaccard threshold (see ngramPairs for
    * the cached pipeline).
    */
  def qNgramJaccard(t: Tables, k: Int = 5, dfCap: Int = 50,
      threshold: Double = 0.6): DataFrame =
    ngramPairs(t, k, dfCap)
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")

  /** MinHash + LSH near-dup — DuckDB-oracled as a DECISION REPLAY
    * (the [[DedupIndex]] pattern): the signature function (xxhash64
    * minhash) is not SQL-expressible, so the band table this query
    * materializes is exported per run and the oracle re-derives the
    * whole decision set — band equi-join, pair dedup, slot-match
    * estimator, threshold — from those bytes in plain SQL.
    * MinHashSpec property-tests the estimator itself. Signature is
    * one codegen'd expression (n mins from 2 base hashes, O(shingles)
    * per row); banding keys the self-join on (band index, band hash)
    * so candidates come from band buckets only; est_jaccard =
    * fraction of matching signature slots. The self-join reads the
    * MATERIALIZED band table (write + read-back), so the signatures
    * compute once, not once per join side — at corpus scale the band
    * table is always persisted first anyway (that is [[DedupIndex]]).
    */
  /** (doc_id, sig, band, band_hash) LSH band rows — the banding core
    * shared by [[qMinhashLsh]] (in-session self-join) and
    * [[DedupIndex]] (persisted, incrementally probed). Docs with
    * fewer than shingleSize tokens have NO shingles — their signature
    * is the all-MaxValue sentinel, and banding would put every such
    * doc in one bucket (a quadratic blowup at web scale) and report
    * them as jaccard-1.0 duplicates sharing no content. Drop them
    * before signing, mirroring the ngram oracle's length guard.
    */
  def bandTable(docs: DataFrame, numHashes: Int, bands: Int,
      shingleSize: Int): DataFrame = {
    val rows = numHashes / bands
    val sig = docs.repartition(col("doc_id"))
      .filter(GraftFunctions.tokenCount(col("text")) >= shingleSize)
      .select(col("doc_id"),
        GraftFunctions.minhashSig(col("text"), numHashes, shingleSize).as("sig"))
    sig.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  def qMinhashLsh(t: Tables, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 5, threshold: Double = 0.5): DataFrame = {
    val banded = graft.util.OracleExports.materialize(
      bandTable(t.documents, numHashes, bands, shingleSize), "minhash_bands")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
          x => x)).cast("double") / numHashes, 2))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup — DuckDB-oracled as a DECISION REPLAY: the
    * simhash64 function is not SQL-expressible, but given the
    * exported per-doc signatures the entire decision set is — band
    * split (shift + mask), candidate equi-join, popcount hamming,
    * threshold. LineDedupSpec-style property checks still cover the
    * signature itself. 64-bit simhash split into 4 16-bit bands —
    * pigeonhole guarantees hamming ≤ 3 pairs share ≥1 exact band, so
    * the self-join keys on (band, 16-bit chunk) and the hamming check
    * runs only on candidates.
    */
  def qSimhash(t: Tables, shingleSize: Int = 3, maxHamming: Int = 3): DataFrame = {
    // Same zero-shingle guard as qMinhashLsh: simhash of no shingles
    // is 0L, so all short docs would band together and report
    // hamming=0 "duplicates".
    // decision-replay export + materialization in one (Verify only):
    // the banding self-join reads the signatures back, so simhash64
    // runs once per doc, and the oracle re-derives banding + hamming
    // from the same bytes (shifts, masks, popcount — all plain SQL)
    val sigs = graft.util.OracleExports.materialize(
      t.documents.repartition(col("doc_id"))
        .filter(GraftFunctions.tokenCount(col("text")) >= shingleSize)
        .select(col("doc_id"),
          GraftFunctions.simhash64(col("text"), shingleSize).as("sh")),
      "simhash_sigs")
    val banded = sigs.select(col("doc_id"), col("sh"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sh").as("sh_a"), col("y.sh").as("sh_b"))
      .dropDuplicates("doc_a", "doc_b")
      // long, not int: the oracle's popcount is BIGINT-typed, and the
      // driver's hasher is type-sensitive (the HUGEINT lesson) — same
      // convention as qDedupFuzzy's dist
      .withColumn("hamming",
        GraftFunctions.hamming64(col("sh_a"), col("sh_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Transitive duplicate clusters from near-dup pairs: connected
    * components by min-label propagation WITH pointer jumping. Each
    * round a node adopts the minimum of its neighbors' labels and its
    * own label's label — the doubling step halves label-chain depth,
    * so labels converge to the component's smallest doc_id in
    * O(log diameter) rounds (a 64-deep duplicate chain resolves in ~7
    * rounds, not 64). The only driver-side value per round is the
    * single changed-count scalar; labels and edges stay distributed.
    * This is the standard large-scale CC recipe (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) on
    * DataFrames.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val fwd = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    // Each round references the label table THREE times (neighbors,
    // pointer jump, self) — without lineage truncation the logical
    // plan grows 3^rounds and analysis OOMs. localCheckpoint makes the
    // round a leaf; LAZY (eager=false), so the convergence count below
    // is the job that materializes it — one job per round, not a
    // checkpoint job plus a count job. On a real cluster with unstable
    // executors use a reliable checkpoint dir
    // (sparkContext.setCheckpointDir + .checkpoint) instead.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(false)
    // superseded rounds must release their checkpoint blocks NOW, not
    // when ContextCleaner eventually notices — a large corpus would
    // otherwise hold maxIters copies of the label table in storage
    def releaseBlocks(ds: DataFrame): Unit = ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false); ()
      case _ => ()
    }
    var checkpointed = labels
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "dst_id"),
          col("dst") === col("dst_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min("cluster_id").as("n_min"))
      // pointer jumping (label doubling): also adopt my CURRENT
      // label's label — label chains halve each round, so convergence
      // is O(log diameter) instead of O(diameter). One extra
      // equi-join per round against the same checkpointed label table.
      // Round 0 skips it: labels are identity there (everyone is their
      // own label), so the label's label IS the label — the join would
      // be a no-op paid on the full node set.
      val best =
        if (it == 0) col("n_min")
        else least(col("n_min"), col("l_min"))
      val joined =
        if (it == 0) labels.join(viaNeighbors, "doc_id")
        else labels.join(viaNeighbors, "doc_id")
          .join(labels.select(col("doc_id").as("_lbl_id"), col("cluster_id").as("l_min")),
            col("cluster_id") === col("_lbl_id"))
      // carry the did-it-improve flag as a COLUMN so the convergence
      // check is a filter over this round's single materialization
      val next = joined
        .select(col("doc_id"),
          least(col("cluster_id"), best).as("cluster_id"),
          (best < col("cluster_id")).as("_changed"))
        .localCheckpoint(false)
      // ONE action: materializes the lazy checkpoint and returns the
      // convergence scalar in the same job
      changed = next.filter(col("_changed")).count()
      releaseBlocks(checkpointed)
      checkpointed = next
      labels = next.drop("_changed")
      it += 1
    }
    edges.unpersist()
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dupClusters: min-label propagation still changing $changed labels " +
          s"after $maxIters rounds — components with diameter > $maxIters are " +
          "returned SPLIT; raise maxIters for deep duplicate chains")
    labels
  }

  /** Corpus dup-cluster labels, memoized like the pair table: the CC
    * loop (log-rounds of joins + checkpoints) runs once per (session,
    * corpus, threshold) and both roster consumers (qDupClusters,
    * qDedupNear) read the same checkpointed label table. Eviction
    * releases the checkpoint's storage blocks — the final round's RDD
    * would otherwise outlive every consumer.
    */
  def corpusDupLabels(t: Tables, threshold: Double = 0.6): DataFrame =
    labelsCache.getOrBuild(t, threshold)(
      dupClusters(ngramPairs(t).filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b")))

  private val labelsCache =
    new graft.util.CorpusMemo[DataFrame](2, df =>
      df.queryExecution.analyzed.collectLeaves().foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false); ()
        case _ => ()
      })

  /** Near-dup clusters over the corpus: n-gram Jaccard pairs →
    * connected components → cluster roster. Shares the memoized pair
    * table with qNgramJaccard (the CC loop never recomputes the
    * shingle pipeline) AND the memoized label table with qDedupNear;
    * oracled in DuckDB via a recursive-CTE transitive closure, and
    * DupClusterSpec proves components on known graphs.
    */
  def qDupClusters(t: Tables, threshold: Double = 0.6): DataFrame =
    corpusDupLabels(t, threshold).orderBy("doc_id")

  /** End-to-end near-dup REMOVAL: the actionable form of
    * [[qDupClusters]] — per cluster keep the lowest doc_id, emit every
    * other member as (dropped, keeper, cluster size), i.e. the drop
    * manifest a curation run applies (and audits: the keeper column
    * is the provenance of each removal). Reuses the memoized pair
    * table and the same CC labels; the roster itself is one tiny agg
    * + join over the label table, which is |docs-in-any-pair| rows —
    * far smaller than the corpus.
    */
  def qDedupNear(t: Tables, threshold: Double = 0.6): DataFrame = {
    val labels = corpusDupLabels(t, threshold)
    val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("dropped_id"), col("cluster_id").as("keeper_id"),
        col("cluster_size"))
      .orderBy("dropped_id")
  }

  /** Quality-priority near-dup removal: the production form of
    * [[qDedupNear]] — per cluster keep the BEST document rather than
    * the lowest id. "Best" here is longest text (n_chars, the common
    * keep-the-fullest-copy heuristic when near-dups are truncations
    * or snippets of one canonical page); ties break on lowest doc_id
    * so the keeper is total-order deterministic. Any scalar quality
    * key (model score, source rank) drops in by swapping the ORDER
    * BY. Cost over qDedupNear is one window over the label table —
    * |docs-in-any-pair| rows, far smaller than the corpus — and the
    * n_chars join prunes `documents` to two columns.
    */
  def qDedupKeepBest(t: Tables, threshold: Double = 0.6): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))
    val ranked = corpusDupLabels(t, threshold)
      .join(t.documents.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("_rk", row_number().over(w))
    val keepers = ranked.filter(col("_rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"),
        col("n_chars").as("keeper_chars"))
    ranked.filter(col("_rk") =!= 1)
      .join(keepers, "cluster_id")
      .select(col("doc_id").as("dropped_id"), col("keeper_id"),
        col("keeper_chars"))
      .orderBy("dropped_id")
  }

  /** Embedding-cosine near-dup, label-blocked: pairs are generated
    * within a blocking key (label here; at 100 TB an LSH bucket or
    * coarse quantizer cell) so the self-join shuffles on the block key
    * and never materializes the n² cross product.
    */
  def qEmbedNeardup(t: Tables, threshold: Double = 0.97): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("label"), col("embedding"))
    e.as("x").join(e.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", round(
        GraftFunctions.cosineSim(col("x.embedding"), col("y.embedding")), 2))
      .filter(col("cos") >= threshold)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("x.label").as("label"), col("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): semantic
    * near-dup removal with the CORPUS'S OWN clustering as the blocking
    * key — k-means cells from the memoized [[Similarity.corpusIndex]]
    * coarse quantizer, so pairs form only within a cell (Σ cell², the
    * same bound the paper relies on to scale past n²) and no label or
    * other metadata is needed. Drop rule: a vector is dropped when a
    * LOWER-ID vector in its cell has cosine ≥ `threshold` (the paper
    * keeps one representative per ε-ball; lowest-id is the
    * deterministic choice, and greedy — a dropped vector's keeper may
    * itself be dropped by a yet-lower id, the standard chain caveat).
    * Cross-cell near-dups are missed by design: that recall/cost trade
    * IS the algorithm, bounded in SemDedupSpec against brute force.
    */
  def semDedupDrops(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id"), col("embedding"))
    a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") < col("y.vec_id"))
      .filter(GraftFunctions.cosineSim(col("x.embedding"), col("y.embedding"))
        >= threshold)
      .groupBy(col("y.vec_id").as("vec_id"))
      .agg(min(col("x.vec_id")).as("kept_by"))
  }

  /** SemDeDup over the corpus's memoized IVF index. */
  def semDedupDrops(t: Tables, threshold: Double, cells: Int): DataFrame =
    semDedupDrops(Similarity.corpusIndex(t, cells).assigned, threshold)

  /** Contract query — DuckDB-oracled as a DECISION REPLAY: k-means
    * blocking is not SQL-expressible, so the cell ASSIGNMENT
    * (vec_id, cell) is exported per run and the oracle re-derives the
    * drop set — same-cell pairs, cosine at the threshold, lowest-id
    * keeper — and the per-label aggregation from those bytes plus the
    * embeddings table in plain SQL (cosines agree modulo the engines'
    * last-ULP summation differences, the same accepted equivalence as
    * every cosine oracle). The synthetic corpus holds no true
    * duplicates, so the default threshold sits where its cosine tail
    * has mass — and SemDedupSpec separately proves planted exact/near
    * duplicates are dropped against their true keepers.
    */
  def qSemDedup(t: Tables, threshold: Double = 0.45): DataFrame = {
    val assigned = Similarity.corpusIndex(t, cells = 16).assigned
    graft.util.OracleExports.export(
      assigned.select(col("vec_id"), col("cell")), "semdedup_cells")
    val drops = semDedupDrops(assigned, threshold)
    t.embeddings.select(col("vec_id"), col("label"))
      .join(drops.select(col("vec_id"), lit(1).as("_dropped")), Seq("vec_id"), "left")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("_dropped").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
      .orderBy("label")
  }

  /** Fuzzy (edit-distance) dedup: candidate pairs from a cheap
    * blocking key — same lang + identical 24-char prefix, the
    * candidate generator a pipeline swaps for MinHash/LSH buckets at
    * scale — verified with true Levenshtein at ≤ 20% of the longer
    * text. The shape matters more than the blocker: the quadratic
    * stages are both bounded (pairs form only inside blocks, Σ
    * bucket² never n²; levenshtein's O(len²) DP runs only on
    * candidates), which is what keeps edit-distance verification
    * affordable on a web-scale corpus.
    */
  def qDedupFuzzy(t: Tables): DataFrame = {
    val d = t.documents.select(col("doc_id"), col("lang"), col("text"),
      substring(col("text"), 1, 24).as("pfx"), col("n_chars"))
    // The Levenshtein test lives INSIDE the join condition, AFTER the
    // cheap conjuncts — conjunct order is load-bearing: a dist column
    // filtered above the join gets folded into the residual with the
    // DP FIRST, so every hash-bucket candidate (dominated by self-
    // pairs, which doc_id< would reject for free) pays a full O(len²)
    // DP — measured 15× slower at sf0.1. The id test and the
    // length-difference bound (levenshtein ≥ |Δlen|, so a pair that
    // can't meet the 20% cap never enters the DP) both short-circuit
    // ahead of it; the surviving O(matches) pairs re-evaluate the DP
    // once more in the projection — 79 pairs at sf0.1, noise.
    val cap = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
      lit(0.2) * greatest(x, y)
    d.as("a").join(d.as("b"),
        col("a.lang") === col("b.lang") && col("a.pfx") === col("b.pfx") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) <=
            cap(col("a.n_chars"), col("b.n_chars")) &&
          levenshtein(col("a.text"), col("b.text")) <=
            cap(length(col("a.text")), length(col("b.text"))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.text"), col("b.text")).cast("long").as("dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** Sub-document (line-level) dedup, C4/RefinedWeb-style: any span
    * repeated ACROSS the corpus keeps exactly its first occurrence
    * (lowest doc_id, then position) and every other copy is cut out of
    * its document — boilerplate removal where whole-doc dedup can't
    * bite (navigation chrome, license headers, quoted reposts). The
    * synthetic corpus has no newlines, so the "line" unit is a fixed
    * `chunkWords`-word window; swap the chunker for split-on-\n and
    * the rest is unchanged.
    *
    * Shape: split→chunk via pure higher-order array ops (transform/
    * slice — no explode until chunks exist), one window keyed on the
    * chunk value for keep-first (WindowGroupLimit caps per-key state),
    * then re-assemble surviving chunks in document order. Three
    * shuffles total (chunk key, reassembly, output sort), each keyed
    * on bounded-width values — at 100 TB the chunk-key shuffle
    * dominates and is exactly the exact-dedup shuffle at finer grain.
    * Keying the window on the raw chunk string is deliberate here
    * (oracle parity); at scale, key on xxhash64(chunk) so the shuffle
    * moves 8-byte keys.
    */
  def qLineDedup(t: Tables, chunkWords: Int = 3): DataFrame = {
    val w = filter(split(col("text"), " "), x => x =!= "")
    val nChunks = ceil(size(col("w")).cast("double") / chunkWords).cast("int")
    val chunks = t.documents
      .select(col("doc_id"), w.as("w"))
      // guard the empty document: Spark's sequence(0, -1) generates a
      // DESCENDING sequence (not the empty one DuckDB's range(0,0)
      // gives), which would fabricate chunks for a zero-token doc
      .filter(size(col("w")) > 0)
      .withColumn("n_chunks", nChunks)
      .select(col("doc_id"), col("n_chunks"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => array_join(slice(col("w"), i * chunkWords + 1, lit(chunkWords)), " "))))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    val kept = chunks
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("chunk")
          .orderBy("doc_id", "chunk_idx")))
      .filter(col("rk") === 1)
    kept.groupBy("doc_id")
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("text_clean"),
        first(col("n_chunks")).as("n_chunks"),
        count(lit(1)).cast("int").as("n_kept"))
      .orderBy("doc_id")
  }

  /** URL-level dedup — the FIRST pass of every crawl pipeline: the
    * fetch identity is the cheapest dedup signal, applied before any
    * content hashing touches bytes. The corpus carries no URL column,
    * so the query synthesizes a deterministic messy-URL surface from
    * documents — three variants per shared target (uppercase host +
    * scheme, www + default port + tracking params + trailing slash,
    * fragment) — and the codegen'd `canonical_url` collapses them;
    * dup groups then reduce to (canonical, n_variants, keeper) by
    * keep-min-doc_id. One hash-partial groupBy on the canonical
    * string: at 100 TB this is the same shuffle class as exact dedup.
    *
    * DuckDB-oracled as a DECISION REPLAY: the (doc_id, canonical)
    * table exports and the oracle re-derives groups/keepers in plain
    * SQL; the canonicalization kernel itself is pinned by
    * ExtensionsSpec unit cases (ports, params, fragments, non-http
    * passthrough).
    */
  def qUrlDedup(t: Tables): DataFrame = {
    val urls = t.documents
      .select(col("doc_id"),
        (col("doc_id") / 3).cast("long").as("g"),
        pmod(col("doc_id"), lit(3)).as("v"))
      .withColumn("host", concat(lit("example-"), pmod(col("g"), lit(5))))
      .select(col("doc_id"),
        when(col("v") === 0,
          concat(lit("HTTPS://"), upper(col("host")), lit(".COM/d/"), col("g")))
        .when(col("v") === 1,
          concat(lit("https://www."), col("host"), lit(".com:443/d/"), col("g"),
            lit("/?utm_source=x&gclid=1")))
        .otherwise(
          concat(lit("https://"), col("host"), lit(".com/d/"), col("g"),
            lit("#section-2"))).as("url"))
    val canon = urls.select(col("doc_id"),
      GraftFunctions.canonicalUrl(col("url")).as("canonical"))
    val decided = graft.util.OracleExports.materialize(canon, "url_canon")
    decided.groupBy("canonical")
      .agg(count(lit(1)).as("n_variants"), min("doc_id").as("keeper"))
      .filter(col("n_variants") > 1)
      .orderBy("canonical")
  }
}
