package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-level decomposition of the edit-join pipelines (optimization
  * profiling only — not part of the driver contract): times each phase
  * of the deletion-blocking pipeline in isolation with a noop sink so
  * the expensive stage is attributable (guide §1.4/§1.5).
  *
  *   sbt "runMain graft.tools.EdJoinProbe"
  */
object EdJoinProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.GraftSession.getOrCreate(
      master = s"local[$cpus]", appName = "graft-edprobe",
      shufflePartitions = cpus.toInt)
    val meter = StageMeter(spark)
    val perStage = sys.env.get("SPARK_GRAFT_EDPROBE_STAGES").isDefined
    // warm once, then min of 2; the stage lines are the fastest rep's
    def timed(label: String)(df: => DataFrame): Unit = {
      val best = meter.best(label, reps = 2) {
        df.write.format("noop").mode("overwrite").save()
      }.min
      println(f"[edprobe] $label%-34s wall=${best.wall}%.2f execMs=${best.runMs} tasks=${best.tasks}")
      if (perStage) best.stages.foreach { st =>
        println(s"[edprobe-stage] id=${st.id} tasks=${st.tasks} execMs=${st.runMs} " +
          s"shR=${st.shuffleRead} shW=${st.shuffleWrite} name=${st.name.take(80)}")
      }
    }

    val t = graft.sources.Tables(spark, sfDir)
    def entity(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat(name, lit(" #"), col("p_partkey").cast("string"))
    val a = t.part.select(col("p_partkey").as("id"), entity(col("p_name")).as("s"))
    val b = t.part.select(
      (col("p_partkey") + lit(1000000L)).as("id"),
      when(col("p_partkey") % 3 === 0,
        entity(concat(substring(col("p_name"), 1, 2), expr("substr(p_name, 4)"))))
        .when(col("p_partkey") % 3 === 1, entity(col("p_name")))
        .otherwise(entity(concat(substring(col("p_name"), 1, 4), lit("x"),
          expr("substr(p_name, 6)")))).as("s"))

    val nPart = spark.sessionState.conf.numShufflePartitions
    def variants(df: DataFrame, side: String, withS: Boolean): DataFrame = {
      val named = df.repartition(nPart)
        .select(col("id").as(s"${side}_id"),
          col("s").as(s"${side}_s"), length(col("s")).as(s"${side}_len"))
      val s = col(s"${side}_s")
      val len = col(s"${side}_len")
      val depth1 = transform(sequence(lit(0), len), i =>
        xxhash64(when(i === 0, s)
          .otherwise(concat(s.substr(lit(1), i - 1),
            s.substr(i + 1, len - i)))))
      val cols0 = Seq(col(s"${side}_id"), col(s"${side}_len")) ++
        (if (withS) Seq(s) else Nil)
      named.select(cols0 :+ explode(array_distinct(depth1)).as("vh"): _*)
    }

    timed("variants(a) repartition(vh)") {
      variants(a, "a", withS = false).repartition(col("vh"))
    }
    timed("variants(a) repartition(a_id)") {
      variants(a, "a", withS = false).repartition(col("a_id"))
    }
    timed("variants(a) noop") {
      variants(a, "a", withS = false)
    }
    // decouple the explode from the shuffle write: materialize first
    val vparq = "/tmp/edprobe_variants"
    variants(a, "a", withS = false).write.mode("overwrite").parquet(vparq)
    timed("parquet-variants repartition(vh)") {
      spark.read.parquet(vparq).repartition(col("vh"))
    }
    timed("variants(a) localCkpt repart(vh)") {
      variants(a, "a", withS = false).localCheckpoint().repartition(col("vh"))
    }
    println("=== executedPlan: variants repartition(vh) ===")
    locally {
      val d = variants(a, "a", withS = false).repartition(col("vh"))
      d.write.format("noop").mode("overwrite").save()
      println(d.queryExecution.executedPlan.toString.take(3000))
    }
    timed("synthetic 820k repartition(vh)") {
      spark.range(820000).select(xxhash64(col("id")).as("vh"),
        col("id"), lit(40).as("len")).repartition(col("vh"))
    }
    timed("synthetic 820k groupBy(vh) count") {
      spark.range(820000).select(xxhash64(col("id")).as("vh"))
        .groupBy("vh").count()
    }
    timed("variants(a)+variants(b) ids-only") {
      variants(a, "a", withS = false)
        .unionByName(variants(b, "b", withS = false)
          .select(col("b_id").as("a_id"), col("b_len").as("a_len"), col("vh")))
    }
    timed("shj join ids-only") {
      variants(a, "a", withS = false)
        .join(variants(b, "b", withS = false).hint("shuffle_hash"), "vh")
        .filter(abs(col("a_len") - col("b_len")) <= 1)
        .select("a_id", "b_id")
    }
    timed("shj join + distinct ids-only") {
      variants(a, "a", withS = false)
        .join(variants(b, "b", withS = false).hint("shuffle_hash"), "vh")
        .filter(abs(col("a_len") - col("b_len")) <= 1)
        .select("a_id", "b_id").distinct()
    }
    timed("full new (rejoin + lev)") {
      variants(a, "a", withS = false)
        .join(variants(b, "b", withS = false).hint("shuffle_hash"), "vh")
        .filter(abs(col("a_len") - col("b_len")) <= 1)
        .select("a_id", "b_id").distinct()
        .join(a.select(col("id").as("a_id"), col("s").as("a_s")).distinct(), "a_id")
        .join(b.select(col("id").as("b_id"), col("s").as("b_s")).distinct(), "b_id")
        .withColumn("dist", levenshtein(col("a_s"), col("b_s"), 1))
        .filter(col("dist") >= 0)
        .select("a_id", "b_id", "dist")
    }
    timed("shj join strings-ride") {
      variants(a, "a", withS = true)
        .join(variants(b, "b", withS = true).hint("shuffle_hash"), "vh")
        .filter(abs(col("a_len") - col("b_len")) <= 1)
        .select("a_id", "a_s", "b_id", "b_s")
    }
    timed("full old (strings-ride)") {
      variants(a, "a", withS = true)
        .join(variants(b, "b", withS = true).hint("shuffle_hash"), "vh")
        .filter(abs(col("a_len") - col("b_len")) <= 1)
        .select("a_id", "a_s", "b_id", "b_s").distinct()
        .withColumn("dist", levenshtein(col("a_s"), col("b_s"), 1))
        .filter(col("dist") >= 0)
        .select("a_id", "b_id", "dist")
    }
    // bloom pre-filter prototype (guide §3.2): drop definitely-
    // non-matching variant rows from BOTH sides before their exchanges
    locally {
      val va = variants(a, "a", withS = false)
      val vb = variants(b, "b", withS = false)
      val nA = va.count(); val nB = vb.count()
      val t0 = System.nanoTime()
      val bfA = va.stat.bloomFilter("vh", nA, 0.02)
      val bfB = vb.stat.bloomFilter("vh", nB, 0.02)
      println(f"[edprobe] bloom build both sides: ${(System.nanoTime()-t0)/1e9}%.2f s, " +
        s"bitsA=${bfA.bitSize()} bitsB=${bfB.bitSize()}")
      val bA = spark.sparkContext.broadcast(bfA)
      val bB = spark.sparkContext.broadcast(bfB)
      val inB = udf((h: Long) => bB.value.mightContainLong(h))
      val inA = udf((h: Long) => bA.value.mightContainLong(h))
      val survA = va.filter(inB(col("vh"))).count()
      val survB = vb.filter(inA(col("vh"))).count()
      println(s"[edprobe] bloom survivors a=$survA/$nA b=$survB/$nB")
      timed("shj join bloom-prefiltered") {
        va.filter(inB(col("vh")))
          .join(vb.filter(inA(col("vh"))).hint("shuffle_hash"), "vh")
          .filter(abs(col("a_len") - col("b_len")) <= 1)
          .select("a_id", "b_id").distinct()
          .join(a.select(col("id").as("a_id"), col("s").as("a_s")).distinct(), "a_id")
          .join(b.select(col("id").as("b_id"), col("s").as("b_s")).distinct(), "b_id")
          .withColumn("dist", levenshtein(col("a_s"), col("b_s"), 1))
          .filter(col("dist") >= 0)
          .select("a_id", "b_id", "dist")
      }
    }
    // how many candidate rows are there, actually?
    val nCand = variants(a, "a", withS = false)
      .join(variants(b, "b", withS = false).hint("shuffle_hash"), "vh")
      .filter(abs(col("a_len") - col("b_len")) <= 1).count()
    val nUniq = variants(a, "a", withS = false)
      .join(variants(b, "b", withS = false).hint("shuffle_hash"), "vh")
      .filter(abs(col("a_len") - col("b_len")) <= 1)
      .select("a_id", "b_id").distinct().count()
    println(s"[edprobe] candidates=$nCand unique_pairs=$nUniq")
    spark.stop()
  }
}
