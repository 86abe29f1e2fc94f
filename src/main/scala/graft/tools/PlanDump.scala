package graft.tools

/** Optimization-round profiler: for each named contract query, dump
  * the `.explain("formatted")` plan to `<outDir>/<name>_<suffix>.txt`
  * and print timing plus scheduler-shape metrics (jobs, stages, tasks,
  * Janino compiles, summed executorRunTime, shuffle bytes) for the
  * timed runs — the numbers guide §1/§2 say to collect before touching
  * anything.
  * Methodology mirrors Bench: warmup at the small SF absorbs codegen
  * compile; the first sfDir run builds any per-corpus memo (the bench
  * bills those to index_build), so the MIN of the later reps is the
  * comparable per-query number ([[StageMeter.best]]). Every rep's wall
  * is printed, warm-up first.
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> <query...>"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r18")
    val suffix = args.lift(1).getOrElse("before")
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // sfDir runs per query: the first is the warm-up, the rest timed
    val reps = sys.env.get("SPARK_GRAFT_PLANDUMP_REPS").flatMap(_.toIntOption).getOrElse(3)
    require(reps >= 2, s"SPARK_GRAFT_PLANDUMP_REPS must be >= 2, got $reps")
    // same session as Bench so plans and times are the bench's
    val spark = graft.engine.GraftSession.getOrCreate(
      master = s"local[$cpus]", appName = "graft-plandump",
      shufflePartitions = cpus.toInt)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val meter = StageMeter(spark)

    // optionally refuse to measure inside a contended window: probe
    // the Bench noise sentinel until it quiets or the budget expires
    // (same discipline as Bench's recovery cycle, applied BEFORE
    // measuring). Each query's line carries its window's reading, so
    // a contended one is never mistaken for a plan regression.
    val waitQuietMs = sys.env.get("SPARK_GRAFT_PLANDUMP_WAIT_MS")
      .flatMap(_.toLongOption).getOrElse(0L)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      println(f"[plandump] calib=${graft.Bench.waitQuiet(waitQuietMs, pauseMs = 10000)}%.3f")
      val fn = graft.SparkEntry.queries(name)
      try { fn(spark, warmDir).count() } catch { case scala.util.control.NonFatal(_) => () }
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val b = meter.best(name, reps - 1)(fn(spark, sfDir).count())
      val m = b.min
      println(f"[plandump] $name%-28s reps=${(b.warm +: b.reps).map(p => f"${p.wall}%.2f").mkString(",")} " +
        f"min_warm=${m.wall}%.2f jobs=${m.jobs} stages=${m.stages.size} tasks=${m.tasks} " +
        f"compiles=${m.compiles} " +
        f"execMs=${m.runMs} shR=${m.shuffleRead} shW=${m.shuffleWrite}")
    }
    spark.stop()
  }
}
