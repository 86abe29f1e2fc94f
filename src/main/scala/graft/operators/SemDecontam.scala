package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** SEMANTIC benchmark decontamination — the embedding-space twin of
  * [[Decontam.qDecontaminate]], catching the case shingle overlap
  * structurally misses: a PARAPHRASED benchmark item shares no word
  * k-gram with its source, but its embedding still sits next to it
  * (the reason embedding-space decontamination exists — GPT-4/Llama
  * report n-gram decontamination precisely because its recall gap is
  * paraphrase-shaped).
  *
  * The machinery is [[SemDedupIndex]] with the roles INVERTED: the
  * BENCHMARK is the stored index (an IVF over benchmark vectors —
  * tiny, built once per benchmark release, reused across every corpus
  * scan), and the CORPUS is the batch checked against it. Corpus
  * vectors assign to cells by one broadcast join against the k-row
  * centroid table and compare only within the benchmark cells they
  * land in — O(corpus · bench/cells) comparisons, never corpus ×
  * bench, and the corpus never reshuffles. At real scale the corpus
  * side exceeds `checkBatch`'s broadcast gate, the hint drops, and
  * AQE broadcasts the small stored benchmark side of the cell join —
  * both regimes keep the cell prune on the stored scan.
  */
object SemDecontam {

  /** Decision threshold — looser than SemDeDup's within-corpus 0.45:
    * decontamination trades precision for recall (a dropped clean doc
    * costs a document; a leaked benchmark item costs the benchmark).
    */
  val Threshold = 0.40

  /** Benchmark cells — the benchmark set is small (≈10% of vectors in
    * the stand-in split), so fewer, fuller cells than the corpus
    * index's 16.
    */
  val Cells = 8

  /** Stand-in benchmark membership (every 10th vector) — one
    * definition shared by the operator, the oracle's `% 10` literal,
    * and the spec; swap in a real benchmark id table here and every
    * consumer follows (same convention as [[Decontam.isBench]]).
    */
  def isBenchVec: org.apache.spark.sql.Column = col("vec_id") % 10 === 0

  /** Fixed export location of the contract query's cell maps, read
    * back by the DuckDB oracle's decision replay (same static-path
    * contract as [[SemDedupIndex.OracleExportDir]]).
    */
  val OracleExportDir: String =
    graft.util.OracleExports.dir("semdecontam")

  private val built = new graft.util.CorpusMemo[String]()

  /** The memoized benchmark index (bench vectors → saved IVF), plus
    * the oracle replay export: the benchmark side's (vec_id, cell)
    * from the saved inverted file, the corpus side's from the same
    * deterministic assignment `checkBatch` recomputes at probe time.
    * Given both cell maps, the within-cell pair join, cosine, shared
    * rounding, threshold, and per-doc aggregation are plain SQL.
    */
  private[graft] def benchIndexDir(t: graft.sources.Tables): String =
    built.getOrBuild(t) {
      val d = graft.util.TempDirs.createWithCleanup("graft-semdecontam-idx")
      val vecs = t.embeddings.select("vec_id", "embedding")
      val idx = IvfIndex.build(vecs.filter(isBenchVec), Cells, iters = 2)
      idx.save(d)
      idx.unpersist()
      t.spark.read.parquet(s"$d/assigned")
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .write.mode(SaveMode.Overwrite).parquet(s"$OracleExportDir/bench")
      Similarity.assignCells(vecs.filter(!isBenchVec),
          t.spark.read.parquet(s"$d/centroids"))
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .write.mode(SaveMode.Overwrite).parquet(s"$OracleExportDir/corpus")
      d
    }

  /** Contract query — DuckDB-oracled as a DECISION REPLAY (exported
    * cell maps; SQL-side cosine + rounding + threshold + per-doc
    * aggregation): every corpus vector semantically contaminated by
    * the benchmark, with how many benchmark items it hits and its
    * closest cosine. These are the rows a training run DROPS (or
    * quarantines) before the corpus ships.
    */
  def qDecontaminateSem(t: graft.sources.Tables): DataFrame = {
    val dir = benchIndexDir(t)
    SemDedupIndex.checkBatch(t.spark, dir,
        t.embeddings.select("vec_id", "embedding").filter(!isBenchVec),
        threshold = Threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bench_hits"), max("cos").as("max_cos"))
      .orderBy("vec_id")
  }
}
