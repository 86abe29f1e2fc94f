package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rnd

/** Federated query — one answer assembled from MULTIPLE physical
  * sources, the reference service's core pitch (a Spark-SQL web
  * service unifying file and JDBC sources behind one catalog).
  *
  * The `nation` dimension is served by an external JDBC database
  * (embedded Derby here — the one driver shipping in the Spark jars
  * directory; any warehouse driver is a classpath drop-in), while the
  * `customer`/`orders` facts stay in parquet. The plan this produces
  * is the right 100 TB shape for federation: the JDBC side is a
  * column-pruned 25-row dimension scan (`RowDataSourceScan`) that
  * broadcasts, so the external database is touched once for KBs of
  * data and never participates in the fact shuffle — facts join
  * map-side. The wrong shape (shipping facts INTO the warehouse, or
  * shuffling the dim) never appears because the dim is loaded as a
  * bounded Spark-side relation.
  *
  * Oracle: the identical join over the parquet `nation` — a faithful
  * JDBC round-trip must not change the answer, so the query is fully
  * hash-checked even though DuckDB never sees Derby.
  */
object Federated {

  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  // The dim load is a side effect, and contract query functions are
  // constructed freely (plan audits, bench reps), so it's memoized per
  // corpus like SourceRoundtrip.writeOnce: first construction lands
  // nation in an in-memory Derby db, later constructions reuse it.
  private val loaded = new graft.util.CorpusMemo[String]()
  private val dbSeq = new java.util.concurrent.atomic.AtomicLong()

  private def loadOnce(t: Tables): String =
    loaded.getOrBuild(t) {
      // a fresh db per build: no loader can ever overwrite a db that
      // another key's memoized URL (or an LRU-evicted one still in use
      // by a running query) points at
      val url = s"jdbc:derby:memory:graftfed_${dbSeq.incrementAndGet()};create=true"
      // Prune to the columns the query needs BEFORE shipping to the
      // external store. createTableColumnTypes forces VARCHAR — the
      // Derby dialect's default StringType mapping is CLOB, which
      // Derby refuses in comparisons and some tools pad; VARCHAR
      // round-trips byte-exact, which the hash oracle requires.
      t.nation.select("n_nationkey", "n_name")
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation_dim")
        .option("driver", driver)
        .option("createTableColumnTypes", "n_name VARCHAR(64)")
        .mode("overwrite").save()
      url
    }

  /** Revenue by nation: parquet facts × JDBC dimension. */
  def qFederated(t: Tables): DataFrame = {
    val url = loadOnce(t)
    val dim = new Catalog(t.spark).read("jdbc", url,
      Map("dbtable" -> "nation_dim", "driver" -> driver))
    t.orders.select("o_custkey", "o_totalprice")
      .join(t.customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"),
        Rnd.round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("n_name")
  }
}
