package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Incremental near-dup ingest — the shape a daily crawl batch needs:
  * the corpus's MinHash band table lives ON DISK, a new batch checks
  * itself against it WITHOUT recomputing (or reshuffling) the corpus,
  * and accepted documents are absorbed by appending just their bands.
  *
  * The scale inversion is the point: the stored band table is
  * corpus-sized, the batch is small — so the batch side broadcasts
  * and the corpus side only SCANS (one pass, no exchange), pruned to
  * the band-hash bucket partitions the batch actually touches. Cost
  * per ingest batch is O(scanned buckets) + O(batch), independent of
  * corpus shuffle width; absorbing is a partition-aligned append.
  * Band semantics (signature, banding, estimator, short-doc guard)
  * are shared with [[Dedup.qMinhashLsh]] via [[Dedup.bandTable]].
  */
object DedupIndex {

  /** Directory partitions for the on-disk band table: bounded count
    * (Spark's dynamic-partition ceiling is safe), fine enough that a
    * small batch's bucket filter prunes most of the scan.
    */
  private val Buckets = 64

  final case class Params(numHashes: Int, bands: Int, shingleSize: Int,
      threshold: Double)

  private def paramsPath(dir: String) = java.nio.file.Paths.get(dir, "_params.json")

  private def writeParams(dir: String, p: Params): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(paramsPath(dir),
      s"""{"numHashes":${p.numHashes},"bands":${p.bands},"shingleSize":${p.shingleSize},"threshold":${p.threshold}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  private def readParams(dir: String): Params = {
    val s = new String(java.nio.file.Files.readAllBytes(paramsPath(dir)),
      java.nio.charset.StandardCharsets.UTF_8)
    def f(k: String) = {
      // [-0-9.Ee+] so a threshold serialized in scientific notation
      // (1.0E-4) round-trips instead of truncating to "1.0"
      val m = (""""""" + k + """":([-+0-9.Ee]+)""").r
      m.findFirstMatchIn(s).get.group(1)
    }
    Params(f("numHashes").toInt, f("bands").toInt, f("shingleSize").toInt,
      f("threshold").toDouble)
  }

  private def withBucket(banded: DataFrame): DataFrame =
    banded.withColumn("bh_bucket", pmod(col("band_hash"), lit(Buckets)))

  /** Build the index from scratch over a (doc_id, text) corpus. The
    * pre-write repartition keys on the partition column so each bucket
    * directory lands as one file per writing task instead of one per
    * (shuffle partition × bucket) — small-file count is what partition
    * layouts die of at scale.
    */
  def build(docs: DataFrame, dir: String, p: Params): Unit = {
    writeParams(dir, p)
    withBucket(Dedup.bandTable(docs, p.numHashes, p.bands, p.shingleSize))
      .repartition(col("bh_bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bh_bucket")
      .parquet(s"$dir/bands")
    ()
  }

  /** Check a new (doc_id, text) batch against the stored corpus:
    * returns (doc_id, dup_of, est_jaccard) — one row per detected
    * near-duplicate pairing, `dup_of` an already-ingested doc. The
    * batch side is hinted broadcast; the corpus table is scanned,
    * never shuffled, and the scan is pruned to the batch's buckets
    * (a bounded `isin` — batch × bands hashes at most).
    */
  def checkBatch(spark: SparkSession, dir: String, batch: DataFrame,
      maxBroadcastRows: Long = 2000000L): DataFrame = {
    // reader-side recovery BEFORE the scan (same contract as
    // IvfIndex.recoverCompaction): a committed-but-interrupted
    // compactBuckets leaves staged files already moved next to the
    // not-yet-deleted originals — scanning that state double-counts
    // every band row in the folded buckets on every probe until the
    // fold completes. sweepStaging stays false: a marker-less stage
    // may be the live writer mid-fold.
    graft.util.FoldCommit.recover(dir)
    val p = readParams(dir)
    // localCheckpoint: the batch's signature pipeline runs ONCE — the
    // bucket collect below and the broadcast join both read the
    // cached blocks (lineage cut; blocks release when the plan is
    // GC'd), instead of re-tokenizing the batch twice per ingest
    val probe = withBucket(Dedup.bandTable(batch, p.numHashes, p.bands, p.shingleSize))
      .localCheckpoint(eager = false)
    // bucket list is bounded by the (small) batch; collecting it is a
    // planning step that buys PartitionFilters on the corpus scan.
    // ONE action answers it AND the broadcast size gate (per-bucket
    // counts sum to the probe total) — was a distinct-collect plus a
    // count(), two scheduler round-trips per ingest.
    val perBucket = probe.groupBy("bh_bucket")
      .agg(count(lit(1)).as("n")).collect()
    val buckets = perBucket.map(_.getAs[Long]("bh_bucket"))
    // size-gate the broadcast (same guard as SpanIndex.checkBatch,
    // lower default: band rows carry the full numHashes signature
    // array). An oversized batch shuffles instead; the bucket prune
    // on the stored scan survives either way.
    val bcast = perBucket.map(_.getAs[Long]("n")).sum <= maxBroadcastRows
    val probeSide = if (bcast) broadcast(probe.as("y")) else probe.as("y")
    val stored = spark.read.parquet(s"$dir/bands")
      .filter(col("bh_bucket").isin(buckets: _*))
    stored.as("x")
      .join(probeSide,
        col("x.bh_bucket") === col("y.bh_bucket") &&
          col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("y.doc_id").as("doc_id"), col("x.doc_id").as("dup_of"),
        col("x.sig").as("sig_x"), col("y.sig").as("sig_y"))
      .dropDuplicates("doc_id", "dup_of")
      // Rnd.round, NOT functions.round: qMinhashLsh rounds the same
      // estimator with the engine-portable formula, and the two paths
      // must agree at .xx5 boundaries (non-power-of-two numHashes)
      .withColumn("est_jaccard", Rnd.round(
        size(filter(zip_with(col("sig_x"), col("sig_y"), (a, b) => a === b),
          x => x)).cast("double") / p.numHashes, 2))
      .filter(col("est_jaccard") >= p.threshold)
      .select("doc_id", "dup_of", "est_jaccard")
  }

  /** Absorb accepted batch docs: append ONLY their bands — the
    * partition layout keeps the append aligned with the existing
    * bucket directories; nothing already stored is rewritten.
    */
  def absorb(spark: SparkSession, dir: String, accepted: DataFrame): Unit = {
    // finish any committed fold first so the append's bucket files land
    // beside a consistent tree (reader-mode: absorb appends, it never
    // owns staging — only compactBuckets sweeps)
    graft.util.FoldCommit.recover(dir)
    val p = readParams(dir)
    withBucket(Dedup.bandTable(accepted, p.numHashes, p.bands, p.shingleSize))
      .repartition(col("bh_bucket"))
      .write.mode(SaveMode.Append).partitionBy("bh_bucket")
      .parquet(s"$dir/bands")
    ()
  }

  /** OPTIMIZE for the on-disk band table: every [[absorb]] appends one
    * file per touched bucket, so a long-lived index accumulates a file
    * per (batch × bucket) — the small-file death partition layouts die
    * of at scale. Rewrites each bucket directory to one file,
    * exactly-once under crashes via
    * [[graft.util.FoldCommit.compactPartitionedTree]]'s write-ahead
    * roll-forward; probes keep their PartitionFilters prune throughout
    * (same layout, fewer files). Returns rows rewritten; 0 when
    * already compact.
    */
  def compactBuckets(spark: SparkSession, dir: String,
      store: graft.sources.CommitStore = graft.util.FoldCommit.DefaultStore): Long =
    graft.util.FoldCommit.compactPartitionedTree(spark, dir, "bands",
      "bh_bucket", store)

  private val built = new graft.util.CorpusMemo[String]()

  /** Fixed export location of the contract query's band tables, read
    * back by the DuckDB oracle's decision replay (see
    * SparkEntry.oracleSql("q_dedup_ingest")). A STATIC path because
    * oracle SQL is static text: Verify runs the query (which exports
    * here) before the gate runs the SQL, on the same host — the same
    * ordering contract the gate's own output-parquet compare relies
    * on. Overwritten per run.
    */
  val OracleExportDir: String =
    graft.util.OracleExports.dir("dedup_ingest_bands")

  /** The contract query's memoized even-half index — exposed so the
    * bench can warm the BUILD at the target corpus and report it under
    * `index_build`, leaving the timed query to measure the probe path
    * (the correctness gate still runs build+probe cold). The build
    * also exports both halves' band tables (doc_id, sig, band,
    * band_hash) to [[OracleExportDir]]: given the signatures, the
    * banding join, pair dedup, estimator, and threshold are plain
    * SQL, so the ingest DECISION set is fully DuckDB-replayable even
    * though the signature function itself (xxhash64 minhash) is not
    * SQL-expressible.
    */
  def corpusIndexDir(t: graft.sources.Tables): String =
    built.getOrBuild(t) {
      val d = graft.util.TempDirs.createWithCleanup("graft-dedup-idx")
      val docs = t.documents.select("doc_id", "text")
      val p = Params(numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.5)
      build(docs.filter(col("doc_id") % 2 === 0), d, p)
      // oracle replay export: the indexed side is a cheap column copy
      // of the band table just built; the probe side is the odd half's
      // bands (the same rows checkBatch will recompute at probe time)
      t.spark.read.parquet(s"$d/bands")
        .select("doc_id", "sig", "band", "band_hash")
        .write.mode(SaveMode.Overwrite).parquet(s"$OracleExportDir/indexed")
      Dedup.bandTable(docs.filter(col("doc_id") % 2 === 1),
          p.numHashes, p.bands, p.shingleSize)
        .select("doc_id", "sig", "band", "band_hash")
        .write.mode(SaveMode.Overwrite).parquet(s"$OracleExportDir/probe")
      d
    }

  /** Contract query — DuckDB-oracled as a DECISION REPLAY: the oracle
    * re-derives every (batch doc, indexed partner, est_jaccard) from
    * the exported band tables in plain SQL (band equi-join, pair
    * dedup, slot-match estimator, threshold) and must reproduce this
    * output exactly. The signatures themselves are Spark-computed
    * inputs to both sides — MinHashSpec property-tests the estimator;
    * the oracle proves everything downstream of it. Index the
    * even-doc_id half of the corpus on disk, ingest the odd half as a
    * batch, report every near-dup it has against the indexed half.
    */
  def qDedupIngest(t: graft.sources.Tables): DataFrame = {
    val dir = corpusIndexDir(t)
    checkBatch(t.spark, dir, t.documents.select("doc_id", "text")
        .filter(col("doc_id") % 2 === 1))
      .orderBy("doc_id", "dup_of")
  }
}
