package graft.tools

import graft.engine.GraftSession

/** Ad-hoc plan inspector (not part of the driver contract): prints the
  * EXECUTED plan (post-AQE, what actually ran) for each query named in
  * `SPARK_GRAFT_EXPLAIN=q_name,q_name` or on the command line.
  * For repeat timings (warm-up, every rep, minimum) use [[PlanDump]].
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // validate names before paying Spark session startup
    val names = (sys.env.getOrElse("SPARK_GRAFT_EXPLAIN", "").split(",").toSeq ++ args)
      .map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}; " +
      s"known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    if (names.isEmpty)
      println(s"usage: Scratch <query...> (or SPARK_GRAFT_EXPLAIN=a,b); " +
        s"known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.getOrCreate()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      println(s"=== $name (final plan) ===")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
