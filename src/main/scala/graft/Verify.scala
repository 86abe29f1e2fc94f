package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the library's own session (GraftSession, extensions included):
    // the correctness gate must run what users run
    val spark = graft.engine.GraftSession.getOrCreate(
      master = s"local[$cpus]", appName = "graft-verify",
      shufflePartitions = cpus.toInt)
    // the gate NEEDS the decision-replay exports (band tables, cell
    // maps, LUTs…) its oracle SQL reads; they are off everywhere else
    // so the bench and production callers never pay for them
    graft.util.OracleExports.enabled = true
    new java.io.File(outDir).mkdirs()
    // queries dump CONCURRENTLY (Spark schedules jobs from multiple
    // threads fine; contract queries are independent — corpus-keyed
    // temp views and memoized builders are thread-safe by design, see
    // Relational.corpusView / util.BoundedMemo). 4-wide keeps the
    // 163-query gate fast as the contract grows; serial wall time was
    // dominated by per-query scheduling gaps, not CPU.
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    // local-iteration subset (comma-separated names); the driver's
    // gate leaves this unset and dumps the full contract
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        // a typo'd name must fail loudly, not silently shrink
        // queries.json and weaken the missing-output gate
        val unknown = names -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val tasks = selected.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of every declared query, so the gate can fail on
    // missing outputs instead of silently skipping a crashed query
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
