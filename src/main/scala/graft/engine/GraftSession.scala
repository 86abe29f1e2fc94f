package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference service's single shared Spark session
  * (wangpy1995/data-service boots one SparkSession behind its Play
  * controllers) but configured for modern Spark: AQE on (runtime
  * shuffle coalescing + skew-join splitting), UTC, and the graft
  * extensions (custom SQL functions) injected.
  *
  * `shufflePartitions` defaults to 32 for local[32]; on a real
  * cluster set it ~2-3x total cores (AQE coalesces the excess).
  *
  * The library's one `SparkSession.builder()` (SourceRulesSpec): every
  * main runs with the extensions, so the plans PlanAuditSpec pins are
  * the plans the gate and the bench run.
  */
object GraftSession {
  def builder(
      master: String = "local[32]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // cost-based optimization ON by default: plans without catalog
      // stats are bit-identical either way (CboParitySpec proves it
      // over the stats-less contract queries — Spark falls back to
      // sizeInBytes heuristics), and vtable lazy scans carry exact
      // rowCount + NDV attributeStats from the commit manifest, which
      // lets the reorderer put the selective dim first in multi-way
      // joins (VTableScanSpec's CBO reorder test)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** The session every graft main runs on (the service, `Verify`,
    * `Bench`, the tools, the tests): [[builder]] plus WARN logging.
    * The extensions inject the graft functions, so nothing registers
    * them at runtime here.
    */
  def getOrCreate(
      master: String = "local[32]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession = {
    val s = builder(master, appName, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
