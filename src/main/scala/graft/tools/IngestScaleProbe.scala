package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 (10x) scale probe for the three persisted-index ingest
  * families the r17 probe didn't cover — dedup LSH, semantic dedup,
  * text index (VERDICT r17 next-round #5) — with the same warm-up +
  * min-of-two + stage-API methodology ([[StageMeter]]) as the r17
  * edit-join/span probe.
  *
  * Replica construction guarantees cross-replica rows can never
  * match, so the 10x corpus carries 10x the TRUE workload instead of
  * a quadratic phantom-duplicate blowup: replica r's document tokens
  * are suffixed `_r` (disjoint shingle/token space per replica; the
  * BM25 query terms live in replica 0 only, so the probe exercises
  * bucket pruning against the full index), and replica r's embeddings
  * are dimension-ROTATED by r (near-orthogonal to every other
  * replica, while within-replica geometry is exactly sf0.1's).
  *
  * The semantic-dedup probe scales `cells` with the corpus (16 ->
  * 16*reps) — the operator's documented blocking parameter: cell
  * population stays constant as the corpus grows, which is what
  * bounds the within-cell pair join at any scale.
  *
  * Corpora generate under /tmp, never /root/testdata.
  * Run: `sbt "runMain graft.tools.IngestScaleProbe"`.
  */
object IngestScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS")
      .flatMap(_.toIntOption).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.GraftSession.getOrCreate(
      master = s"local[$cpus]", appName = "graft-ingestprobe",
      shufflePartitions = cpus.toInt)
    val meter = StageMeter(spark)

    // stage-API evidence: per phase, stages >1s executorRunTime with
    // their task width and spill — the r16 single-task-explode class
    // shows up here as a wide-runtime 1-task stage
    def line(p: StageMeter.Phase): Unit = {
      val hot = p.stages.filter(_.runMs > 1000)
      val narrow = hot.filter(_.tasks < cpus.toInt)
      println(f"[probe] ${p.label}%-28s wall=${p.wall}%.2f s  stages=${p.stages.size} " +
        f"hot(>1s)=${hot.size} narrow_hot=${narrow.size} " +
        f"hot_widths=${hot.map(_.tasks).mkString(",")} spill_bytes=${p.spill}")
    }
    def phase(label: String)(f: => Any): Unit = line(meter.phase(label)(f))

    val out = "/tmp/graft_probe_sf1"
    val docsP = s"$out/documents"
    val vecsP = s"$out/embeddings"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(docsP))) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val docs10 = (0 until reps).map { r =>
        if (r == 0) base
        else base.select((col("doc_id") + r * 100000000L).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"_$r"))), " ").as("text"))
      }.reduce(_ unionByName _)
      phase("gen documents x" + reps) {
        docs10.repartition(cpus.toInt).write.mode("overwrite").parquet(docsP)
      }
      val vbase = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val vecs10 = (0 until reps).map { r =>
        if (r == 0) vbase
        else vbase.select((col("vec_id") + r * 100000000L).as("vec_id"),
          concat(slice(col("embedding"), r + 1, 100000),
            slice(col("embedding"), 1, r)).as("embedding"))
      }.reduce(_ unionByName _)
      phase("gen embeddings x" + reps) {
        vecs10.repartition(cpus.toInt).write.mode("overwrite").parquet(vecsP)
      }
    }
    val docs = spark.read.parquet(docsP)
    val vecs = spark.read.parquet(vecsP)
    // one warm-up run, then the minimum of two timed runs
    def minOf2(label: String)(f: => Any): Unit = {
      val b = meter.best(label, reps = 2)(f)
      (b.warm +: b.reps).foreach(line)
      println(f"[probe] $label%-28s min=${b.min.wall}%.2f")
    }

    val only = args.toSet
    def want(s: String) = only.isEmpty || only.contains(s)

    if (want("dedup")) {
      val d = s"$out/dedup_idx"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      val p = graft.operators.DedupIndex.Params(
        numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.5)
      phase("dedup_lsh build (even)") {
        graft.operators.DedupIndex.build(
          docs.filter(col("doc_id") % 2 === 0), d, p)
      }
      minOf2("q_dedup_ingest probe (odd)") {
        graft.operators.DedupIndex.checkBatch(spark, d,
          docs.filter(col("doc_id") % 2 === 1)).count()
      }
    }
    if (want("semdedup")) {
      val d = s"$out/semdedup_idx"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      val cells = graft.operators.SemDedupIndex.Cells * reps
      phase(s"semdedup build (even, cells=$cells)") {
        val idx = graft.operators.IvfIndex.build(
          vecs.filter(col("vec_id") % 2 === 0), cells, iters = 2, trainMod = 4)
        idx.save(d)
        idx.unpersist()
      }
      minOf2("q_semdedup_ingest probe (odd)") {
        graft.operators.SemDedupIndex.checkBatch(spark, d,
          vecs.filter(col("vec_id") % 2 === 1)).count()
      }
    }
    if (want("text")) {
      val d = s"$out/text_idx"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      phase("text_idx build (even)") {
        graft.operators.TextIndex.build(docs.filter(col("doc_id") % 2 === 0), d)
      }
      phase("text_idx absorb (odd)") {
        graft.operators.TextIndex.absorb(spark, d,
          docs.filter(col("doc_id") % 2 === 1))
      }
      minOf2("q_text_index_bm25 probe") {
        graft.operators.TextIndex.bm25(spark, d,
          Seq("spark", "merge", "window")).count()
      }
    }
    spark.stop()
  }
}
