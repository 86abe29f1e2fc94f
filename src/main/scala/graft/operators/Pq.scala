package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.Tables

/** Product quantization (PQ) for ANN at memory scale (Jégou, Douze &
  * Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
  * 2011): split each d-dim vector into `m` subvectors, k-means each
  * subspace to `ksub` centroids, and store a vector as `m` small
  * codes — 64 float dims (256 B) become 8 codes (8 B), a 32×
  * compression that is what lets a 10^10-vector corpus's index live
  * in cluster memory at all.
  *
  * Queries score WITHOUT decompressing (asymmetric distance, ADC):
  * per query, a tiny m×ksub lookup table of subspace dot products is
  * computed against the codebooks, and a corpus vector's score is the
  * sum of m table lookups — here a codegen'd `zip_with`/`aggregate`
  * over the codes array against the LUT literal, no UDF, no shuffle
  * of the corpus beyond the final per-query top-k.
  *
  * Training is Lloyd over ALL m subspaces JOINTLY: one DataFrame of
  * (vec_id, sub, svec) rows trains every subspace's codebook in the
  * same two jobs per iteration (assign = broadcast join + min_by
  * hash-agg keyed (vec_id, sub); update = CentroidAgg hash-agg keyed
  * (sub, code)) — m separate k-means loops would be m× the job count
  * for identical work. Vectors are unit-normalized first, so summed
  * subspace dots approximate full cosine.
  */
object Pq {

  /** (sub, code, centroid) codebook rows: m×ksub total — broadcast
    * scale. Trains on a deterministic 1/trainMod hash sample (the
    * same large-corpus recipe as IvfIndex; codebook quality needs a
    * representative sample, not every vector).
    */
  def trainCodebooks(e: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, trainMod: Int = 1): DataFrame = {
    // one dimension probe for the whole build (subvector slicing and
    // the aggregation buffer share it)
    val sd = subDim(e, m)
    val sub = subvectors(unit(e), m, sd)
    val train =
      if (trainMod > 1) {
        val s = sub.filter(pmod(xxhash64(col("vec_id")), lit(trainMod)) === 0)
        // per-subspace seed coverage: the sample must hold ksub rows
        // PER SUB (uniform in vec_id → uniform per sub); bounded probe
        if (s.filter(col("sub") === 0).limit(ksub).count() < ksub) sub else s
      } else sub
    val mean = udaf(new graft.functions.CentroidAgg(sd),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
    // deterministic seeds: the ksub lowest vec_id-hashes per subspace
    var codebooks = train
      .withColumn("_h", xxhash64(col("vec_id")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("sub").orderBy(col("_h"), col("vec_id"))))
      .filter(col("_rn") <= ksub)
      .select(col("sub"), (col("_rn") - 1).cast("int").as("code"),
        col("svec").as("centroid"))
      .persist()
    (0 until iters).foreach { _ =>
      val next = assign(train, codebooks)
        .groupBy("sub", "code")
        .agg(mean(col("svec")).as("c"))
        .select(col("sub"), col("code"), col("c").cast("array<float>").as("centroid"))
        .persist()
      next.count() // materialize before releasing the parent
      codebooks.unpersist()
      codebooks = next
    }
    codebooks
  }

  /** (vec_id, codes array<int> length m): the compressed corpus. */
  def encode(e: DataFrame, codebooks: DataFrame, m: Int = 8): DataFrame =
    assign(subvectors(unit(e), m, subDim(e, m)), codebooks)
      .groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        x => x.getField("code")).as("codes"))

  /** ADC top-k: for each (query_id, unit query vector), rank the coded
    * corpus by summed LUT lookups. `lut(q)` is m×ksub subspace dots —
    * built driver-side from the collected codebooks (M×ksub rows, the
    * same metadata scale as a broadcast centroid table) and inlined as
    * a literal so the scoring loop stays inside codegen.
    */
  def adcTopK(codes: DataFrame, codebooks: DataFrame,
      queries: Seq[(Long, Array[Float])], k: Int = 10): DataFrame = {
    val luts = lutsFor(codebooks, queries)
    // ONE plan regardless of query count: the per-query LUTs stack
    // into a 3-D literal indexed by query ordinal, and scoring is a
    // broadcast cross join against the tiny (query_id, ordinal) frame
    // — a per-query union would grow the plan (and its codegen)
    // linearly with the query batch, the wrong shape for a serving
    // path that batches hundreds of probes
    val spark = codes.sparkSession
    import spark.implicits._
    val qFrame = broadcast(
      luts.zipWithIndex.map { case ((qid, _), i) => (qid, i + 1) }
        .toDF("query_id", "_q"))
    val lut3d: Seq[Seq[Seq[Double]]] = luts.map(_._2)
    val scored = codes.crossJoin(qFrame)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        scoreCol(element_at(typedLit(lut3d), col("_q"))).as("score"))
    // bounded-heap per-group top-k — NOT a row_number window, which
    // would sort-shuffle all n×q scored rows; the heap keeps k per
    // query per partition and only k·q·partitions rows ever move.
    // The rank column is then a window over the ≤ k·q survivors.
    graft.plans.TopKPerGroup(scored, Seq("query_id"),
        Seq(col("score").desc, col("vec_id")), k)
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("vec_id"))))
      .select(col("query_id"), col("vec_id"), round(col("score"), 4).as("score"), col("rk"))
      .orderBy("query_id", "rk")
  }

  /** Oracle decision-replay export for the ADC paths: the compressed
    * corpus (vec_id, codes) and the per-query LUTs (query_id, lut) —
    * the two non-SQL inputs from which the whole scoring + shortlist
    * decision re-derives in plain SQL.
    */
  private def exportAdcInputs(t: Tables, model: PqModel,
      qs: Seq[(Long, Array[Float])], prefix: String): Unit =
    if (graft.util.OracleExports.enabled) {
      val spark = t.spark
      import spark.implicits._
      graft.util.OracleExports.export(model.codes, s"${prefix}_codes")
      graft.util.OracleExports.export(
        lutsFor(model.codebooks, qs).toDF("query_id", "lut"), s"${prefix}_luts")
    }

  /** Per-query m×ksub LUTs of subspace dots, built driver-side from
    * the collected codebooks (m·ksub rows — broadcast-metadata scale).
    * `m` and `ksub` are DERIVED from the codebook rows themselves
    * (max sub+1, max code+1) — the saved codebooks fully determine
    * both, so a caller can never pass a mismatched pair that would
    * index out of bounds or score against a truncated table.
    */
  private def lutsFor(codebooks: DataFrame,
      queries: Seq[(Long, Array[Float])]): Seq[(Long, Seq[Seq[Double]])] = {
    val rows = codebooks.collect()
    require(rows.nonEmpty, "empty PQ codebook")
    val m = rows.iterator.map(_.getAs[Int]("sub")).max + 1
    val ksub = rows.iterator.map(_.getAs[Int]("code")).max + 1
    val cb = Array.ofDim[Array[Float]](m, ksub)
    rows.foreach { r =>
      cb(r.getAs[Int]("sub"))(r.getAs[Int]("code")) =
        r.getAs[scala.collection.Seq[Float]]("centroid").toArray
    }
    val sd = cb.flatten.find(_ != null)
      .getOrElse(throw new IllegalStateException("empty PQ codebook")).length
    def normalized(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0) v else v.map(x => (x / n).toFloat)
    }
    queries.map { case (qid, qRaw) =>
      val q = normalized(qRaw)
      qid -> (0 until m).map { s =>
        (0 until ksub).map { c =>
          val cen = cb(s)(c)
          if (cen == null) Double.MinValue // empty cluster: never wins
          else (0 until sd).map(i => q(s * sd + i).toDouble * cen(i)).sum
        }: Seq[Double]
      }
    }
  }

  /** Σ_sub lut(sub)(codes(sub)) as a codegen'd column over `codes`;
    * `lut` is any array<array<double>>-typed column (a literal, or a
    * slice of the stacked 3-D literal).
    */
  private def scoreCol(lut: Column): Column =
    aggregate(
      zip_with(col("codes"), lut, (c, l) => element_at(l, c + 1)),
      lit(0.0d), (acc, x) => acc + x)

  /** Trained codebooks + coded corpus, memoized per (session, corpus,
    * params) — contract-query invocations and plan audits must not
    * retrain per call (same pattern as Similarity.corpusIndex).
    */
  final case class PqModel(codebooks: DataFrame, codes: DataFrame) {
    def unpersist(): Unit = { codebooks.unpersist(); codes.unpersist(); () }
  }

  private val pqCache = new graft.util.CorpusMemo[PqModel](2, _.unpersist())

  def corpusPq(t: Tables, m: Int = 8, ksub: Int = 16, iters: Int = 2): PqModel =
    pqCache.getOrBuild(t, (m, ksub, iters)) {
      val cbs = Pq.trainCodebooks(t.embeddings, m, ksub, iters, trainMod = 4)
      val codes = Pq.encode(t.embeddings, cbs, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      PqModel(cbs, codes)
    }

  /** PQ/ADC ANN contract query — DuckDB-oracled as a decision replay
    * (exported codes + LUTs; the ADC sum, shortlist, and exact
    * re-rank all replay in SQL); AnnSpec separately checks recall vs
    * brute force. Build-once coded corpus → ADC shortlist of
    * `rerank`·k candidates from the 8-byte codes alone → EXACT cosine
    * re-rank of just the shortlist. The two-stage shape is the
    * production recipe (Jégou '11 §V): the compressed index does the
    * heavy candidate generation without touching raw vectors, and the
    * exact pass — a broadcast hash-join of the tiny shortlist against
    * the corpus, one scan — repairs quantization error where it
    * matters, at the top of the ranking.
    */
  def qAnnPq(t: Tables, queryIds: Seq[Long] = Seq(1L, 2L, 3L), k: Int = 10,
      m: Int = 8, ksub: Int = 16, rerank: Int = 4): DataFrame = {
    val model = corpusPq(t, m, ksub)
    val qs = t.embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .toSeq.sortBy(_._1)
    // decision-replay exports: the trained codes and per-query LUTs
    // are the non-SQL steps. Downstream, the ADC score is a fixed
    // left-to-right sum of m LUT lookups — the SAME addition order
    // over the SAME exported doubles in both engines, so shortlist
    // membership replays bit-identically; the exact re-rank then
    // rides the standard cosine equivalence.
    exportAdcInputs(t, model, qs, "pq")
    val shortlist = adcTopK(model.codes, model.codebooks, qs, k * rerank)
      .select("query_id", "vec_id")
    val qDf = t.embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    t.embeddings.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(qDf), "query_id")
      .select(col("query_id"), col("vec_id"),
        Rnd.round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** IVF-PQ probed ANN — DuckDB-oracled as a decision replay of the
    * FULL Jégou '11 serving pipeline — coarse cells bound the candidate
    * set (nprobe/cells of the corpus per query), ADC over the 8-byte
    * codes ranks candidates without touching raw vectors, and the
    * exact re-rank repairs the shortlist. At 100 TB this is the
    * layout that serves: the inverted file is partition-pruned on
    * disk (IvfIndex), the codes fit in memory, and the only raw-
    * vector IO is the shortlist join.
    */
  def qAnnIvfPq(t: Tables, queryIds: Seq[Long] = Seq(1L, 2L, 3L), k: Int = 10,
      cells: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      rerank: Int = 4): DataFrame = {
    val ivf = Similarity.corpusIndex(t, cells)
    val model = corpusPq(t, m, ksub)
    val qRows = t.embeddings.filter(col("vec_id").isin(queryIds: _*))
    val probes = Similarity.nearestCells(qRows, ivf.centroids, topN = nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    // decision-replay exports (see qAnnPq): codes + LUTs for the ADC
    // stage, plus this path's cell map and probe choices — the full
    // IVF-PQ decision then re-derives in SQL
    graft.util.OracleExports.export(
      ivf.assigned.select(col("vec_id"), col("cell")), "ivfpq_cells")
    graft.util.OracleExports.export(probes, "ivfpq_probes")
    // candidate ids per query: vectors living in the probed cells
    val cand = ivf.assigned.select(col("cell"), col("vec_id"))
      .join(broadcast(probes), "cell")
      .select(col("query_id"), col("vec_id"))
    val qs = qRows.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .toSeq.sortBy(_._1)
    exportAdcInputs(t, model, qs, "ivfpq")
    // ADC over candidates only — one plan for the whole query batch:
    // the stacked 3-D LUT literal is indexed by the query's ordinal
    // from the tiny broadcast frame (same shape as adcTopK), and the
    // candidate join already keyed the work to nprobe/cells of the
    // corpus
    val spark = t.spark
    import spark.implicits._
    val coded = cand.join(model.codes, "vec_id")
    val luts = lutsFor(model.codebooks, qs)
    val qOrd = broadcast(
      luts.zipWithIndex.map { case ((qid, _), i) => (qid, i + 1) }
        .toDF("query_id", "_q"))
    val lut3d: Seq[Seq[Seq[Double]]] = luts.map(_._2)
    val scored = coded.join(qOrd, "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        scoreCol(element_at(typedLit(lut3d), col("_q"))).as("score"))
    // bounded-heap shortlist (candidates are nprobe/cells of the
    // corpus per query — still corpus-scale; never sort-shuffle them)
    val shortlist = graft.plans.TopKPerGroup(scored, Seq("query_id"),
        Seq(col("score").desc, col("vec_id")), k * rerank)
      .select("query_id", "vec_id")
    val qDf = qRows
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    t.embeddings.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(qDf), "query_id")
      .select(col("query_id"), col("vec_id"),
        Rnd.round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  /** Persist an IVF-PQ index: the inverted file carries the PQ codes
    * (and raw vectors, for re-rank) IN the cell-partitioned tree, so
    * a probe's scan prunes to the visited cells and finds codes and
    * vectors co-located — no second lookup. Centroids and codebooks
    * are tiny side tables. This is the serving layout: on 10^10
    * vectors a probe reads nprobe/cells of the partition tree, scores
    * from the 8-byte codes, and touches raw vectors only for the
    * shortlist rows it already has in hand.
    */
  def saveIndex(dir: String, ivf: IvfIndex, model: PqModel): Unit = {
    ivf.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    model.codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    ivf.assigned.join(model.codes, "vec_id")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
  }

  /** Probe a saved IVF-PQ index; result-identical to the in-memory
    * [[qAnnIvfPq]] at the same parameters (same assignment, same
    * deterministic tie-breaks). `m`/`ksub` are derived from the saved
    * codebooks — the index fully determines them, so the caller can't
    * pass a mismatched pair.
    */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int = 10, nprobe: Int = 4,
      rerank: Int = 4): DataFrame = {
    import spark.implicits._
    val centroids = spark.read.parquet(s"$dir/centroids")
    val codebooks = spark.read.parquet(s"$dir/codebooks")
    val assigned = spark.read.parquet(s"$dir/assigned")
      .withColumn("cell", col("cell").cast("long"))
    val probes = Similarity.nearestCells(queries, centroids, topN = nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val qs = queries.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .toSeq.sortBy(_._1)
    val luts = lutsFor(codebooks, qs)
    val qOrd = broadcast(
      luts.zipWithIndex.map { case ((qid, _), i) => (qid, i + 1) }
        .toDF("query_id", "_q"))
    val lut3d: Seq[Seq[Seq[Double]]] = luts.map(_._2)
    // candidate scan prunes to probed cells (partition column join);
    // codes AND vectors arrive from the same pruned partitions.
    // Bounded-heap shortlist — same no-sort-shuffle shape as adcTopK
    val scored = assigned.join(broadcast(probes), "cell")
      .join(qOrd, "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        scoreCol(element_at(typedLit(lut3d), col("_q"))).as("score"))
    val shortlist = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq(col("score").desc, col("vec_id")), k * rerank)
    val qDf = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    shortlist.join(broadcast(qDf), "query_id")
      .select(col("query_id"), col("vec_id"),
        Rnd.round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 4).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos", "rk")
      .orderBy("query_id", "rk")
  }

  // ---- internals ----------------------------------------------------

  private def subDim(e: DataFrame, m: Int): Int = {
    val dim = e.select(size(col("embedding"))).limit(1).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException("cannot train PQ on empty input"))
    require(dim % m == 0, s"PQ needs m to divide the dimension, got dim=$dim m=$m")
    dim / m
  }

  /** Unit-normalize (zero vectors dropped — cosine undefined). */
  private def unit(e: DataFrame): DataFrame =
    e.filter(GraftFunctions.normF(col("embedding")) > 0)
      .withColumn("_n", GraftFunctions.normF(col("embedding")))
      .withColumn("embedding",
        transform(col("embedding"), x => (x / col("_n")).cast("float")))
      .drop("_n")

  /** One row per (vec_id, sub): the sub'th slice of the embedding. */
  private def subvectors(e: DataFrame, m: Int, sd: Int): DataFrame = {
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("embedding"))
      .select(col("vec_id"), col("sub").cast("int").as("sub"),
        slice(col("embedding"), col("sub") * sd + 1, lit(sd)).as("svec"))
  }

  /** Nearest codebook entry per (vec_id, sub): broadcast join on sub,
    * min_by hash-agg (map-side partials collapse the ksub candidates
    * before any shuffle — the same shape as IVF cell assignment).
    */
  private def assign(sub: DataFrame, codebooks: DataFrame): DataFrame =
    sub.join(broadcast(codebooks), "sub")
      .withColumn("_d",
        aggregate(zip_with(col("svec"), col("centroid"),
          (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x))
      .filter(col("_d").isNotNull)
      .groupBy("vec_id", "sub")
      .agg(min_by(col("code"), struct(col("_d"), col("code"))).as("code"),
        first(col("svec")).as("svec"))
}
