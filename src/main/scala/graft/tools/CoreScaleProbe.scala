package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Core-scaling probe at a compute-bound scale (VERDICT r18 #5): the
  * sf0.1 suite is scheduler-bound (the driver's 8-core bench BEAT the
  * 32-core one), so per-query core ratios must come from a 10x corpus
  * where executor work dominates. Generates an sf1-like directory
  * under /tmp (NEVER /root/testdata) with the replica construction
  * that makes cross-replica matches impossible (token-suffixed
  * document text, dimension-rotated embeddings, id-offset part keys —
  * the 9-digit offset keys make every cross-replica entity pair
  * length-filtered at d <= 2 — and node-offset event graphs), then
  * times the compute-bound contract queries through SparkEntry at the
  * core count in `SPARK_GRAFT_CPUS`. Run once with 32 and once with 8;
  * the committed table is the ratio.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.CoreScaleProbe"
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.tools.CoreScaleProbe"
  *
  * Also measures q_span_ingest's probe path with and without a
  * deduped conviction-probe side (VERDICT r18 #6) via the span family
  * phases.
  */
object CoreScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS")
      .flatMap(_.toIntOption).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.GraftSession.getOrCreate(
      master = s"local[$cpus]", appName = "graft-corescale",
      shufflePartitions = cpus.toInt)
    val meter = StageMeter(spark)
    def line(p: StageMeter.Phase): Unit =
      println(f"[corescale] cpus=$cpus ${p.label}%-34s wall=${p.wall}%.2f " +
        f"execMs=${p.runMs} shW=${p.shuffleWrite} tasks=${p.tasks}")
    def phase(label: String)(f: => Any): Unit = line(meter.phase(label)(f))
    // one warm-up run, then the minimum of two timed runs
    def minOf2(label: String)(f: => Any): Unit = {
      val b = meter.best(label, reps = 2)(f)
      (b.warm +: b.reps).foreach(line)
      println(f"[corescale] cpus=$cpus $label%-34s min=${b.min.wall}%.2f")
    }

    // ---- 10x corpus generation (idempotent, shared by both runs) ----
    val out = "/tmp/graft_corescale_sf1"
    val gen = !java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_done"))
    if (gen) {
      val base = graft.sources.Tables(spark, sfDir)
      def replicate(name: String)(mk: Int => DataFrame): Unit = {
        val df = (0 until reps).map(mk).reduce(_ unionByName _)
        phase(s"gen $name x$reps") {
          df.repartition(cpus.toInt).write.mode("overwrite")
            .parquet(s"$out/$name.parquet")
        }
      }
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      replicate("documents") { r =>
        if (r == 0) docs0
        else docs0
          .withColumn("doc_id", col("doc_id") + r * 100000000L)
          .withColumn("text", array_join(transform(
            filter(split(col("text"), " "), t => t =!= ""),
            t => concat(t, lit(s"_$r"))), " "))
      }
      val part0 = spark.read.parquet(s"$sfDir/part.parquet")
      replicate("part") { r =>
        if (r == 0) part0
        else part0.withColumn("p_partkey", col("p_partkey") + r * 100000000L)
      }
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      replicate("embeddings") { r =>
        if (r == 0) emb0
        else emb0
          .withColumn("vec_id", col("vec_id") + r * 100000000L)
          .withColumn("embedding", concat(
            slice(col("embedding"), r + 1, 100000),
            slice(col("embedding"), 1, r)))
      }
      // events: disjoint user AND node spaces per replica, so the 10x
      // graph is 10 disjoint copies (10x true PageRank work); only the
      // $.k field of props is read by the edge builder
      val ev0 = base.events
        .select(col("user_id"), col("ts"), col("event_id"), col("props"))
      replicate("events") { r =>
        if (r == 0) ev0
        else ev0
          .withColumn("user_id", col("user_id") + r * 100000000L)
          .withColumn("props", when(
            get_json_object(col("props"), "$.k").isNotNull,
            concat(lit("{\"k\":"),
              (get_json_object(col("props"), "$.k").cast("long") +
                r * 10000000L).cast("string"), lit("}")))
            .otherwise(col("props")))
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "_done"),
        "ok".getBytes)
    }

    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val only = args.toSet
    def want(s: String) = only.isEmpty || only.contains(s)
    def q(name: String): Unit = {
      val fn = graft.SparkEntry.queries(name)
      try { fn(spark, warmDir).count() }
      catch { case scala.util.control.NonFatal(_) => () }
      minOf2(name)(fn(spark, out).count())
    }

    if (want("editjoin")) { q("q_edit_join"); q("q_edit_join_sql2") }
    if (want("nb")) q("q_nb_filter")
    if (want("pagerank")) q("q_pagerank")
    if (want("span")) { q("q_span_dedup"); q("q_span_containment") }
    if (want("ingest")) {
      // span-ingest split into build/probe phases so the probe-side
      // dedup question (verdict #6) is attributable to the probe path
      val docs = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text")
      val d = s"$out/span_idx_$cpus"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      phase("span_idx build (even)") {
        graft.operators.SpanIndex.build(
          docs.filter(col("doc_id") % 2 === 0), d, k = 8)
      }
      minOf2("span_ingest probe (odd)") {
        graft.operators.SpanIndex.checkBatch(spark, d,
          docs.filter(col("doc_id") % 2 === 1)).count()
      }
      minOf2("span_ingest probe dedup (odd)") {
        graft.operators.SpanIndex.checkBatch(spark, d,
          docs.filter(col("doc_id") % 2 === 1), dedupProbe = true).count()
      }
    }
    spark.stop()
  }
}
