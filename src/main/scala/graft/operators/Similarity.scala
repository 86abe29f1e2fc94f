package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Rnd.round

import graft.functions.GraftFunctions
import graft.sources.Tables

/** Similarity-search suite (SURVEY.md §2.4).
  *
  * Brute-force cosine top-k is the correctness baseline: the query set
  * is tiny (broadcast), so the scan of n vectors is embarrassingly
  * parallel and the top-k is a per-partition heap (TakeOrdered /
  * window-group-limit), never a full sort. The LSH variant buckets by
  * random-hyperplane sign bits so each probe touches ~n/2^bits
  * candidates — the 100 TB path.
  *
  * Hyperplane LSH per Charikar (STOC 2002); multi-probe per Lv et
  * al. (VLDB 2007); IVF coarse quantization per Sivic & Zisserman
  * ("Video Google", ICCV 2003) and Jégou et al. (TPAMI 2011).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim d) in [-1, 1) — seeded by mix64, identical on every executor
    * without shipping a matrix.
    */
  private def planeComponent(p: Int, d: Int): Double = {
    val h = graft.functions.HashImpl.mix64(p.toLong * 1000003L + d)
    (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  /** Sign-bit bucket id of a vector under `bits` hyperplanes, as a
    * Column: one codegen'd DotF call per plane against a constant-
    * folded float-array literal. (An unrolled element_at(…)*lit(…)
    * sum is 512 expression nodes → multi-second janino compiles; this
    * is 8 calls.)
    */
  private def lshBucket(vec: org.apache.spark.sql.Column, bits: Int, dim: Int)
      : org.apache.spark.sql.Column = {
    val bitCols = (0 until bits).map { p =>
      val plane = array((0 until dim).map(d =>
        lit(planeComponent(p, d).toFloat)): _*) // foldable → one ArrayData literal
      when(GraftFunctions.dotF(vec, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** ANN over RAW TEXT with no trained state: hash-embed every
    * document (signed feature hashing, unit-normalized, one codegen'd
    * pass) and rank by cosine — the bridge that runs the whole
    * embedding stack (near-dup, ANN, SemDeDup) on corpora that have
    * no model embeddings yet — DuckDB-oracled as a decision replay
    * over the exported vectors. Same brute-force shape as
    * [[qAnnBruteforce]]; at scale the same vectors feed the LSH/IVF
    * paths unchanged. Zero-norm (all-whitespace) docs are filtered —
    * cosine against a zero vector is undefined, not zero.
    */
  def qTextAnn(t: Tables, queryIds: Seq[Long] = Seq(1L, 2L, 3L),
      k: Int = 10, dim: Int = 256): DataFrame = {
    // decision-replay export + materialization in one: hash_embed is
    // the non-SQL step, so the embedded vectors are written per run
    // (floats round-trip parquet exactly) and both this query's
    // self-join and the DuckDB oracle read the same bytes — the
    // scoring, ranking, and top-k all replay in plain SQL
    val e = graft.util.OracleExports.materialize(
      t.documents
        .select(col("doc_id"),
          GraftFunctions.hashEmbed(col("text"), dim).as("embedding"))
        .filter(GraftFunctions.normF(col("embedding")) > 0),
      "text_ann_vecs")
    val q = e.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "doc_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** (query_id, vec_id, cos rounded 4dp) for every (query, corpus)
    * pair — queries broadcast, self-pairs excluded. ONE definition
    * driving [[qAnnBruteforce]] and [[qHardNegatives]]: any scoring
    * change (rounding scale, self-pair rule) must hit both, or the
    * mined negatives silently disagree with the full ranking.
    */
  private def scoredPairs(e: DataFrame, queryIds: Seq[Long]): DataFrame = {
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4).as("cos"))
  }

  /** Deterministic per-query top-k over a scored pair frame:
    * WindowGroupLimit keeps the rank a per-partition heap, ties break
    * on vec_id.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")

  /** Hard-negative mining for retrieval/embedding training (the DPR
    * recipe, Karpukhin '20): for each query, the top-k most-similar
    * candidates INSIDE a similarity band — close enough to be hard
    * (cos ≥ lo, well above the corpus's ~0 random-pair floor) but
    * capped below the positive/duplicate region (cos < hi) so
    * paraphrases and near-dups can't leak into the negative set. The
    * band tests the ROUNDED score, so the boundary decision is
    * engine-exact. Same broadcast-score shape as [[qAnnBruteforce]];
    * at corpus scale candidates come from the IVF index instead
    * (probe first, band-filter after — the band is a post-probe
    * projection either way), so mining cost follows the index's
    * nprobe/k corpus fraction, not the full scan.
    */
  def qHardNegatives(t: Tables, queryIds: Seq[Long] = Seq(1L, 2L, 3L),
      k: Int = 10, lo: Double = 0.15, hi: Double = 0.30): DataFrame =
    topK(scoredPairs(t.embeddings, queryIds)
      .filter(col("cos") >= lo && col("cos") < hi), k)

  /** Late-interaction (multi-vector) retrieval scoring — MaxSim
    * (Khattab & Zaharia, "ColBERT", SIGIR 2020): a query is a SET of
    * token vectors, a document is a SET of token vectors, and
    * score(doc) = Σ over query tokens of the max cosine against any
    * document token — fine-grained term matching dense single-vector
    * retrieval loses. Here each LABEL's vectors play one multi-vector
    * document and the first `numQuery` vec_ids play the query tokens.
    *
    * Shape: the query set broadcasts (tiny) against ONE corpus scan,
    * and both stages — the per-(document, query-token) max and the
    * per-document sum — are hash aggs with map-side combine: no
    * window, no skew-sensitive key, however large one document's
    * vector set grows. At 100 TB the same pipeline runs per IVF cell
    * (probe the coarse quantizer first, MaxSim only the candidate
    * cells), exactly the qAnnBruteforce→qAnnIvf serve-path step.
    * Both maxes and the sum round like every cosine oracle here.
    */
  def qMaxSim(t: Tables, numQuery: Int = 4): DataFrame =
    maxSim(t.embeddings.select(col("vec_id"), col("label"), col("embedding")),
      numQuery)

  /** The exhaustive MaxSim core over any (vec_id, label, embedding)
    * frame — shared by the contract query and the IVF serve path's
    * candidate scorer, and directly testable on synthetic corpora.
    */
  def maxSim(e: DataFrame, numQuery: Int): DataFrame = {
    val q = e.filter(col("vec_id") < numQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .groupBy(col("label"), col("q_id"))
      .agg(round(max(
        GraftFunctions.cosineSim(col("embedding"), col("q_emb"))), 2).as("mx"))
      .groupBy("label")
      .agg(round(sum("mx"), 2).as("maxsim"))
      .orderBy("label")
  }

  /** Brute-force cosine top-k for a small query set. Queries broadcast
    * (3 rows); each of n vectors is scored once; row_number over the
    * rounded score gives a deterministic, engine-independent ranking.
    */
  def qAnnBruteforce(t: Tables, queryIds: Seq[Long] = Seq(1L, 2L, 3L),
      k: Int = 10): DataFrame =
    topK(scoredPairs(t.embeddings, queryIds), k)

  /** LSH-bucketed ANN — DuckDB-oracled as a decision replay (the
    * exported buckets drive the SQL-side multiprobe, scoring, and
    * ranking); AnnSpec separately checks recall vs brute force.
    * Vectors bucket once by hyperplane signs; each query
    * multi-probes its own bucket plus all hamming-1 neighbors
    * (bits+1 probes), trading a small candidate-set increase for a
    * large recall gain. At cluster scale the bucket id is the shuffle
    * key (one exchange); probes expand only the tiny query side.
    */
  def qAnnLsh(t: Tables, queryIds: Seq[Long] = Seq(1L, 2L, 3L),
      k: Int = 10, bits: Int = 8, dim: Int = 64): DataFrame = {
    // the hyperplane width must match the data: VecImpl.dot iterates
    // min(lengths), so a too-small `dim` would sign every plane from a
    // vector PREFIX — buckets go near-random and recall silently
    // collapses instead of erroring
    val actual = t.embeddings.select(size(col("embedding"))).limit(1)
      .collect().headOption.map(_.getInt(0))
    require(actual.forall(_ == dim),
      s"lsh dim $dim != embedding width ${actual.getOrElse(-1)}")
    val e = t.embeddings.withColumn("bucket", lshBucket(col("embedding"), bits, dim))
    // decision-replay export: the hyperplane bucketing is the non-SQL
    // step; given (vec_id, bucket), the hamming-1 probe expansion is
    // xor/shift arithmetic and the scoring/ranking replay in SQL
    graft.util.OracleExports.export(
      e.select(col("vec_id"), col("bucket")), "lsh_buckets")
    val q = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
      .withColumn("bucket", explode(array(
        (col("bucket") +: (0 until bits).map(b =>
          col("bucket").bitwiseXOR(lit(1L << b)))): _*)))
    e.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** Top-m most-similar neighbors per vector within its label block.
    * Label-blocked self-join (shuffle on label) + window top-m — the
    * all-pairs analogue of ANN, bounded by Σ block² not n².
    */
  def qCosinePairs(t: Tables, m: Int = 3): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("label"), col("embedding"))
    e.as("x").join(e.as("y"),
        col("x.label") === col("y.label") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.label").as("label"), col("x.vec_id").as("vec_a"),
        col("y.vec_id").as("vec_b"),
        round(GraftFunctions.cosineSim(col("x.embedding"), col("y.embedding")), 4).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_a").orderBy(col("cos").desc, col("vec_b"))))
      .filter(col("rk") <= m)
      .select("label", "vec_a", "vec_b", "cos", "rk")
      .orderBy("vec_a", "rk")
  }

  /** IVF (inverted-file) coarse quantizer: deterministic seeds →
    * Lloyd iterations, entirely as DataFrame ops — centroids stay a
    * k-row DataFrame that BROADCASTS into the assignment cross join;
    * nothing collects to the driver. At 100 TB: train on a sample,
    * assign the full corpus with one broadcast join, store cell id
    * as a partition column.
    */
  def ivfCentroids(e: DataFrame, k: Int = 16, iters: Int = 2,
      preThinSeeds: Boolean = true): DataFrame = {
    // one row, read once: the vector width drives the fixed-size
    // aggregation buffer below
    val dim = e.select(size(col("embedding"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        "cannot train IVF quantizer on empty input"))
    // element-wise mean as ONE hash agg with a fixed (dim+1)-double
    // buffer (CentroidAgg): map-side partials, a single k-group
    // shuffle — the posexplode → (cell,pos) avg → re-collect pipeline
    // it replaces shuffled 64×n rows through two aggregations per
    // Lloyd iteration.
    val mean = udaf(new graft.functions.CentroidAgg(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    // deterministic pseudo-random seeds: k lowest hashes of vec_id.
    // When the input is the full corpus, pre-thin to a 1/64 hash
    // slice first — TakeOrdered keeps the rank per-partition either
    // way, but on 10^10 vectors there is no reason to rank every row
    // to pick k seeds; if the slice can't fill k seeds, fall back to
    // ranking all (correctness never depends on the thin). Callers
    // already passing a SAMPLE (IvfIndex trainMod) disable the thin —
    // there it's two wasted jobs that nearly always fall back.
    def seeds(src: DataFrame) = src
      .withColumn("_h", xxhash64(col("vec_id")))
      .orderBy("_h").limit(k)
      .select((row_number().over(Window.orderBy("_h")) - 1).cast("long").as("cell"),
        col("embedding").as("centroid"))
      // tiny (k rows): keep the plan stable across iterations
      .persist()
    var centroids =
      if (preThinSeeds) seeds(e.filter(pmod(xxhash64(col("vec_id")), lit(64)) === 0))
      else seeds(e)
    if (preThinSeeds && centroids.count() < k) {
      centroids.unpersist()
      centroids = seeds(e)
    }
    (0 until iters).foreach { _ =>
      val next = assignCells(e, centroids)
        .groupBy("cell")
        .agg(mean(col("embedding")).as("m"))
        .select(col("cell"), col("m").cast("array<float>").as("centroid"))
        .persist()
      next.count() // materialize before releasing the parent's cache
      centroids.unpersist()
      centroids = next
    }
    centroids
  }

  /** `topN` nearest cells per vector against the broadcast k-row
    * centroid table (squared-distance ranking, cell-id tie-break).
    * One entry point so distance/tie-break fixes can't diverge, two
    * physical paths: topN=1 (the full-corpus assignment) is a
    * min_by HASH-AGG — partial aggregation collapses the k×n
    * candidate rows map-side before any shuffle, where a row_number
    * window would sort-shuffle all k×n rows; topN>1 (the tiny query
    * side) keeps the window.
    */
  def nearestCells(e: DataFrame, centroids: DataFrame, topN: Int = 1): DataFrame = {
    val scored = e.crossJoin(broadcast(centroids))
      .withColumn("_d",
        aggregate(zip_with(col("embedding"), col("centroid"),
          (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x))
      // corrupt/null vectors yield null distances; exclude them HERE so
      // both physical paths below classify identically (min_by skips
      // null orderings, a window sort would rank them first)
      .filter(col("_d").isNotNull)
    if (topN == 1) {
      val carried = e.columns.filterNot(_ == "vec_id")
      scored.groupBy("vec_id")
        .agg(
          // struct ordering = (distance, cell) lexicographic → same
          // deterministic tie-break as the window path
          min_by(col("cell"), struct(col("_d"), col("cell"))).as("cell"),
          carried.map(c => first(col(c)).as(c)): _*)
    } else {
      scored
        .withColumn("_rk", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("_d").asc, col("cell").asc)))
        .filter(col("_rk") <= topN)
        .drop("_d", "_rk", "centroid")
    }
  }

  /** Nearest-cell assignment (the inverted file). */
  def assignCells(e: DataFrame, centroids: DataFrame): DataFrame =
    nearestCells(e, centroids, topN = 1)

  /** Probe a prebuilt IVF index: each query ranks cells by centroid
    * distance and scans only the `nprobe` nearest cells' posting
    * lists. Candidate volume ≈ n·nprobe/k per query — the classic IVF
    * trade; against a saved index the cell is a partition column, so
    * the scan prunes to the visited cells.
    */
  def ivfProbe(index: IvfIndex, queries: DataFrame, k: Int = 10,
      nprobe: Int = 3): DataFrame = {
    val probes = nearestCells(queries, index.centroids, topN = nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("cell"))
    index.assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  // Build-once index memo (same pattern as Dedup.ngramPairs): contract
  // query invocations and plan audits must not retrain Lloyd per call.
  private val ivfCache = new graft.util.CorpusMemo[IvfIndex](2, _.unpersist())

  /** Memoized corpus index for the contract query. Trains the coarse
    * quantizer on a deterministic 1/4 hash sample BY DEFAULT — the
    * large-scale recipe (quantizer quality needs a representative
    * sample, not every vector; on 10^10 vectors full-corpus Lloyd is
    * the training bottleneck) — while the assignment pass still covers
    * every vector. AnnSpec asserts probe recall holds on the
    * sample-trained index.
    */
  def corpusIndex(t: Tables, cells: Int = 16, iters: Int = 2,
      trainMod: Int = 4): IvfIndex =
    ivfCache.getOrBuild(t, (cells, iters, trainMod))(
      IvfIndex.build(t.embeddings, cells, iters, trainMod))

  /** IVF-probed ANN — DuckDB-oracled as a decision replay (exported
    * cell map + probe choices; candidates, scoring, and ranking
    * replay in SQL); AnnSpec separately checks recall. Build-once
    * index (memoized per corpus), then probe.
    */
  def qAnnIvf(t: Tables, queryIds: Seq[Long] = Seq(1L, 2L, 3L),
      k: Int = 10, cells: Int = 16, nprobe: Int = 3, iters: Int = 2): DataFrame = {
    val index = corpusIndex(t, cells, iters)
    val q = t.embeddings.filter(col("vec_id").isin(queryIds: _*))
    // decision-replay exports: the k-means cell map and this query
    // batch's probe choices are the non-SQL steps (Lloyd + centroid
    // distances); candidate restriction, scoring, and ranking replay
    // in SQL from these plus the embeddings table
    graft.util.OracleExports.export(
      index.assigned.select(col("vec_id"), col("cell")), "ivf_cells")
    graft.util.OracleExports.export(
      nearestCells(q, index.centroids, topN = nprobe)
        .select(col("vec_id").as("query_id"), col("cell")), "ivf_probes")
    ivfProbe(index, q, k, nprobe)
  }

  /** Topic clustering for corpus organization: the k-means coarse
    * quantizer (the SAME memoized index the ANN serve path rides —
    * one Lloyd train amortizes across both uses) assigns every
    * document embedding a topic cell, and the per-topic rollup joins
    * document metadata for a curation-facing summary: size, average
    * length, language spread, dominant source. This is how a 100 TB
    * corpus gets its composition map before mixing decisions — one
    * broadcast-join assignment pass over the vectors (k-row centroid
    * table, map-side min_by partial agg), one hash-agg join against
    * documents, nothing corpus-quadratic.
    *
    * DuckDB-oracled as a DECISION REPLAY: the assignment map
    * (vec_id → cell) is the non-SQL step (Lloyd + float distance
    * argmin) and exports as the decision; the metadata join, all
    * per-topic aggregates, and the dominant-source tie-break
    * (max count, then lexicographic min) replay in plain SQL.
    */
  def qClusterTopics(t: Tables): DataFrame = {
    val index = corpusIndex(t)
    graft.util.OracleExports.export(
      index.assigned.select(col("vec_id"), col("cell")), "topic_cells")
    val assigned = index.assigned
      .select(col("vec_id").as("doc_id"), col("cell").as("topic"))
    val joined = assigned
      .join(t.documents.select("doc_id", "lang", "source", "n_chars"), "doc_id")
    // dominant source: two-level agg — the second level is k × |sources|
    // rows, so the min_by partial-agg never sees corpus-scale data
    val topSource = joined.groupBy("topic", "source")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("topic")
      .agg(min_by(col("source"), struct((-col("cnt")).as("nc"), col("source")))
        .as("top_source"))
    joined.groupBy("topic")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("n_chars"), 2).as("avg_chars"),
        countDistinct("lang").as("n_langs"))
      .join(topSource, "topic")
      .select("topic", "n_docs", "avg_chars", "n_langs", "top_source")
      .orderBy("topic")
  }

  /** MaxSim over the IVF index — [[qMaxSim]]'s serve path, DuckDB-
    * oracled as a decision replay (exported candidate labels; exact
    * MaxSim over them replays as the q_maxsim oracle restricted to
    * that set); CurateSpec pins candidate-exactness and coverage
    * separately: candidate
    * documents come from each query token's `nprobe` nearest cells
    * (the coarse-quantizer prune), and MaxSim then scores the
    * CANDIDATE documents exactly — the standard late-interaction
    * serving split (candidate generation ≈ IVF probe, scoring = full
    * MaxSim on survivors), so a returned document's score is
    * bit-identical to the exhaustive [[qMaxSim]]'s and the only
    * approximation is which documents make the candidate set. Scan
    * cost per query ≈ n·nprobe/cells for generation + |candidate
    * docs|·tokens for scoring, vs the full n·|query| of the
    * exhaustive form.
    */
  def qMaxSimIvf(t: Tables, numQuery: Int = 4, nprobe: Int = 2,
      cells: Int = 16): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("label"), col("embedding"))
    val index = corpusIndex(t, cells)
    // decision-replay export: the coarse-quantizer candidate set is
    // the non-SQL step; given the candidate LABELS, the exact MaxSim
    // over them is the q_maxsim oracle restricted to that set. A
    // query's own cell is always among its nprobe nearest (it IS the
    // nearest), so query labels are always candidates and the
    // restricted frame keeps every query token.
    val cand = maxSimIvfCandidates(e, index, numQuery, nprobe)
    graft.util.OracleExports.export(cand, "maxsim_ivf_labels")
    maxSim(e.join(broadcast(cand), Seq("label"), "left_semi"), numQuery)
  }

  /** Candidate labels for the MaxSim serve path: cells any query
    * token probes → the labels owning a vector there (semi joins — no
    * payload moves).
    */
  private def maxSimIvfCandidates(e: DataFrame, index: IvfIndex,
      numQuery: Int, nprobe: Int): DataFrame = {
    val q = e.filter(col("vec_id") < numQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probedCells = nearestCells(
      q.select(col("q_id").as("vec_id"), col("q_emb").as("embedding")),
      index.centroids, topN = nprobe)
      .select("cell").distinct()
    val candVecs = index.assigned
      .join(broadcast(probedCells), Seq("cell"), "left_semi")
      .select("vec_id")
    e.join(candVecs, Seq("vec_id"), "left_semi")
      .select("label").distinct()
  }

  /** The serve-path core over any frame + prebuilt index (see
    * [[qMaxSimIvf]]) — CurateSpec drives it on a cluster-localized
    * synthetic corpus to prove the candidate prune actually engages
    * (on a corpus whose documents are not vector-localized, the
    * candidate set legitimately approaches all documents — the prune
    * pays off exactly when documents cluster).
    */
  def maxSimIvf(e: DataFrame, index: IvfIndex, numQuery: Int,
      nprobe: Int): DataFrame =
    // exact MaxSim on the candidates only
    maxSim(e.join(broadcast(maxSimIvfCandidates(e, index, numQuery, nprobe)),
      Seq("label"), "left_semi"), numQuery)

  /** Hybrid retrieval — Reciprocal Rank Fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009) of a DENSE arm (hash-embedding cosine
    * top-N, [[qTextAnn]]'s scorer) and a LEXICAL arm (word-5-gram
    * Jaccard candidates, [[Dedup.ngramPairs]]'s memoized table):
    * rrf(d) = Σ over arms ranking d of 1/(K + rank_arm(d)); a
    * document missing from an arm contributes nothing — the standard
    * truncated-list fusion, and the reason RRF needs no score
    * calibration between arms (ranks only). The curation use: "find
    * documents like these seeds" where lexical overlap catches
    * verbatim/templated kin and the embedding catches paraphrase —
    * either alone misses half the family.
    *
    * DuckDB-oracled end to end: the dense arm is a decision replay
    * over the exported hash-embedded vectors; the lexical arm is the
    * same shingle/pair SQL as the n-gram-jaccard oracle; ranks are
    * integers, each arm's term is one double division, and the
    * two-term sum is evaluated in the same order in both engines —
    * the fused score replays bit-identically before its final round.
    *
    * 100 TB shape: the dense arm's crossJoin-against-broadcast-queries
    * swaps for the IVF probe at corpus scale (same rank semantics);
    * the lexical arm's candidates are already df-capped; fusion joins
    * are per-query bounded (≤ denseTop + lexical candidates), never
    * corpus-scale.
    */
  def qHybridRrf(t: Tables, queryIds: Seq[Long] = Seq(1L, 2L, 3L),
      k: Int = 10, rrfK: Int = 60, denseTop: Int = 50,
      dim: Int = 256): DataFrame = {
    val e = graft.util.OracleExports.materialize(
      t.documents
        .select(col("doc_id"),
          GraftFunctions.hashEmbed(col("text"), dim).as("embedding"))
        .filter(GraftFunctions.normF(col("embedding")) > 0),
      "hybrid_vecs")
    val q = e.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), col("embedding").as("q_emb"))
    val dense = e.crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4).as("cos"))
      .withColumn("dense_rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))))
      .filter(col("dense_rk") <= denseTop)
      .select("query_id", "doc_id", "dense_rk")
    // the pair table is a<b; a seed appears on either side
    val pairs = Dedup.ngramPairs(t)
    val lex = pairs.filter(col("doc_a").isin(queryIds: _*))
        .select(col("doc_a").as("query_id"), col("doc_b").as("doc_id"), col("jaccard"))
      .unionAll(pairs.filter(col("doc_b").isin(queryIds: _*))
        .select(col("doc_b").as("query_id"), col("doc_a").as("doc_id"), col("jaccard")))
      .withColumn("lex_rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("jaccard").desc, col("doc_id"))))
      .select("query_id", "doc_id", "lex_rk")
    dense.join(lex, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("dense_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("lex_rk")), lit(0.0)), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "doc_id", "rrf", "rk")
      .orderBy("query_id", "rk")
  }

  /** Higher-order array functions over embeddings — the
    * filter/exists/aggregate surface (all codegen'd, no UDF): per
    * vector, positive-component count, max component, and L1 norm.
    */
  def qArrayFuncs(t: Tables): DataFrame =
    t.embeddings
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x > 0.0f)).as("n_pos"),
        round(array_max(col("embedding")).cast("double"), 4).as("max_elem"),
        round(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + abs(x.cast("double"))), 4).as("l1_norm"))
      .orderBy("vec_id")

  /** Per-label centroid energy: posexplode → (label, dim) partial
    * sums → Σ_dim (Σ_vec x_d)². Never collect_list (an unbounded
    * group buffer); both aggs are hash aggs with map-side combine, so
    * 100 TB of vectors reduce before the shuffle. The typed
    * `CentroidAgg` Aggregator (functions package) covers the
    * fixed-buffer single-pass form for Dataset users.
    */
  def qLabelCentroids(t: Tables): DataFrame = {
    val e = t.embeddings
    val dimSums = e.select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("dim_sum"))
      .groupBy("label")
      .agg(round(sum(col("dim_sum") * col("dim_sum")), 2).as("sum_sq"))
    e.groupBy("label").agg(count(lit(1)).as("n"))
      .join(dimSums, "label")
      .select("label", "n", "sum_sq")
      .orderBy("label")
  }
}
