package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Incremental SEMANTIC dedup ingest — SemDeDup's persisted-index
  * twin, completing the family: MinHash near-dup has [[DedupIndex]],
  * verbatim spans have [[SpanIndex]], and this gives embedding-space
  * near-dup the same O(batch) daily-ingest path. The corpus's IVF
  * coarse quantizer ([[IvfIndex]]) doubles as SemDeDup's blocking
  * clustering: it lives ON DISK, a new batch assigns itself against
  * the SAVED centroids (one broadcast join over only the batch),
  * checks within-cell cosine pairs against stored members, and
  * accepted vectors absorb via [[IvfIndex.appendToSaved]] — no
  * retraining, no reshuffle, no rewrite of existing cells.
  *
  * The scale inversion mirrors [[DedupIndex]]: the stored inverted
  * file is corpus-sized, the batch is small — so the batch side
  * broadcasts (size-gated) and the corpus side only SCANS, pruned to
  * the cells the batch actually touches (`cell` is the on-disk
  * partition column, so the prune is directory-level
  * PartitionFilters). Cost per ingest batch is O(touched cells'
  * members) + O(batch), independent of corpus shuffle width.
  *
  * Drop semantics match [[Dedup.semDedupDrops]]'s SemDeDup reading
  * (Abbas et al. 2023): a batch vector is a duplicate when SOME
  * stored vector in its cell has cosine ≥ threshold — the stored
  * corpus plays keeper by seniority, exactly how a production
  * pipeline treats already-ingested data. Cross-cell near-dups are
  * missed by design (the paper's recall/cost trade; SemDedupSpec
  * bounds it for the batch variant, SemDedupIngestSpec for this one).
  */
object SemDedupIndex {

  /** Same cosine threshold as [[Dedup.qSemDedup]] — the synthetic
    * corpus's cosine tail has mass here, so the decision set is
    * non-trivial at every SF.
    */
  val Threshold = 0.45

  val Cells = 16

  /** Check a new (vec_id, embedding) batch against the stored index:
    * returns (vec_id, dup_of, cos) — one row per (batch vector,
    * stored same-cell partner) pair at or above the threshold. The
    * cosine is rounded with the engine-portable formula BEFORE the
    * threshold test so the decision replays bit-identically in the
    * oracle (same convention as [[DedupIndex.checkBatch]]'s
    * est_jaccard).
    */
  def checkBatch(spark: SparkSession, dir: String, batch: DataFrame,
      threshold: Double = Threshold,
      maxBroadcastRows: Long = 500000L): DataFrame = {
    // reader-side recovery BEFORE touching the trees: a committed but
    // interrupted compaction may have rows in both assigned/ (moved)
    // and epochs/ (not yet deleted) — unioning that state would
    // double-count; recovery completes the fold, and the epochs union
    // below gates on actual data files (a file-less shell reads as
    // absent — readers never delete it, that's the writer's job)
    IvfIndex.recoverCompaction(spark, dir)
    val centroids = spark.read.parquet(s"$dir/centroids")
    // localCheckpoint: the assignment join runs ONCE — the cell
    // collect below and the pair join both read the cached blocks
    // instead of re-assigning the batch twice per ingest
    val probe = Similarity.assignCells(batch, centroids).localCheckpoint(eager = false)
    // cell list is bounded by min(batch, k cells); collecting it is a
    // planning step that buys PartitionFilters on the stored scan.
    // ONE action answers it AND the broadcast size gate (per-cell
    // counts sum to the batch total) — was a distinct-collect plus a
    // count(), two scheduler round-trips per ingest.
    val perCell = probe.groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n")).collect()
    val cells = perCell.map(_.getAs[Long]("cell"))
    // size-gate the broadcast (embedding rows are wide); an oversized
    // batch shuffles instead — the cell prune on the stored side
    // survives either way
    val bcast = perCell.map(_.getAs[Long]("n")).sum <= maxBroadcastRows
    val probeSide = if (bcast) broadcast(probe.as("y")) else probe.as("y")
    // batch-absorbed rows live under assigned/, streamed micro-batches
    // under epochs/epoch=N/ ([[IvfIndex.appendEpoch]]'s exactly-once
    // layout) — `cell` is a partition column in BOTH trees, so the
    // union widens the file set, never the scan shape
    val base = spark.read.parquet(s"$dir/assigned")
      .withColumn("cell", col("cell").cast("long"))
    val full =
      if (IvfIndex.hasEpochRows(dir))
        base.unionByName(spark.read.parquet(s"$dir/epochs")
          .withColumn("cell", col("cell").cast("long")).drop("epoch"))
      else base
    val stored = full.filter(col("cell").isin(cells: _*))
    stored.as("x")
      .join(probeSide, col("x.cell") === col("y.cell"))
      .withColumn("cos", Rnd.round(
        GraftFunctions.cosineSim(col("x.embedding"), col("y.embedding")), 2))
      .filter(col("cos") >= threshold)
      .select(col("y.vec_id").as("vec_id"), col("x.vec_id").as("dup_of"),
        col("cos"))
  }

  /** Absorb accepted batch vectors: assign against the saved quantizer
    * and append ONLY their rows to the on-disk inverted file —
    * partition-aligned with the existing cell directories, nothing
    * stored is rewritten ([[IvfIndex.appendToSaved]] does the work,
    * including the schema-shape gate).
    */
  def absorb(spark: SparkSession, dir: String, accepted: DataFrame): Unit = {
    IvfIndex.appendToSaved(spark, dir, accepted)
    ()
  }

  private val built = new graft.util.CorpusMemo[String]()

  /** Fixed export location of the contract query's cell assignments,
    * read back by the DuckDB oracle's decision replay (see
    * SparkEntry.oracleSql("q_semdedup_ingest")); same static-path
    * contract as [[DedupIndex.OracleExportDir]].
    */
  val OracleExportDir: String =
    graft.util.OracleExports.dir("semdedup_ingest")

  /** The contract query's memoized even-half index — exposed so the
    * bench warms the BUILD at the target corpus (`index_build` in the
    * artifact), leaving the timed query to measure the probe path;
    * the correctness gate still runs build+probe cold. The build also
    * exports both halves' (vec_id, cell) assignments: given the cell
    * map, the within-cell pair join, cosine, rounding, and threshold
    * are plain SQL, so the ingest DECISION set is fully
    * DuckDB-replayable even though Lloyd's clustering is not
    * SQL-expressible.
    */
  def corpusIndexDir(t: graft.sources.Tables): String =
    built.getOrBuild(t) {
      val d = graft.util.TempDirs.createWithCleanup("graft-semdedup-idx")
      val vecs = t.embeddings.select("vec_id", "embedding")
      val idx = IvfIndex.build(vecs.filter(col("vec_id") % 2 === 0),
        Cells, iters = 2, trainMod = 4)
      idx.save(d)
      idx.unpersist()
      // oracle replay export: the indexed side is a cheap column copy
      // of the inverted file just saved; the probe side is the odd
      // half's assignment (the same rows checkBatch will recompute at
      // probe time — assignCells is deterministic)
      t.spark.read.parquet(s"$d/assigned")
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .write.mode(SaveMode.Overwrite).parquet(s"$OracleExportDir/indexed")
      Similarity.assignCells(vecs.filter(col("vec_id") % 2 === 1),
          t.spark.read.parquet(s"$d/centroids"))
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .write.mode(SaveMode.Overwrite).parquet(s"$OracleExportDir/probe")
      d
    }

  /** Contract query — DuckDB-oracled as a DECISION REPLAY: the oracle
    * re-derives every (batch vector, stored same-cell partner, cos)
    * from the exported cell assignments plus the embeddings table in
    * plain SQL (cell equi-join, list_cosine_similarity, the shared
    * rounding formula, threshold) and must reproduce this output
    * exactly. Index the even-vec_id half of the corpus on disk,
    * ingest the odd half as a batch, report every semantic near-dup
    * it has against the indexed half.
    */
  def qSemDedupIngest(t: graft.sources.Tables): DataFrame = {
    val dir = corpusIndexDir(t)
    checkBatch(t.spark, dir, t.embeddings.select("vec_id", "embedding")
        .filter(col("vec_id") % 2 === 1))
      .orderBy("vec_id", "dup_of")
  }
}
