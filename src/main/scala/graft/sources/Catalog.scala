package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Multi-source table catalog.
  *
  * The reference service unifies several data sources (files, JDBC)
  * behind one Spark catalog of temp views; this is the Spark-first
  * equivalent: a `SourceProvider` per format, a `Catalog` that
  * registers tables as temp views, and cache management.
  */
trait SourceProvider {
  def format: String
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame
}

object SourceProvider {
  /** Shared reader assembly for the file providers: a `"schema"`
    * option carries a DDL string and pins the read schema — which is
    * both the skip-inference fast path on wide directories AND what
    * makes PERMISSIVE corrupt-record quarantine expressible (declare a
    * `_corrupt_record STRING` column, malformed rows land there
    * instead of failing the batch — the ingest posture a pipeline fed
    * by external producers needs). The key is consumed here, never
    * passed to the underlying source.
    */
  private[sources] def reader(spark: SparkSession, options: Map[String, String])
      : org.apache.spark.sql.DataFrameReader = {
    val r = spark.read.options(options - "schema")
    options.get("schema").fold(r)(ddl => r.schema(ddl))
  }
}

object ParquetSource extends SourceProvider {
  val format = "parquet"
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame =
    SourceProvider.reader(spark, options).parquet(path)
}

object CsvSource extends SourceProvider {
  val format = "csv"
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame =
    SourceProvider.reader(spark,
      Map("header" -> "true", "inferSchema" -> "true") ++ options).csv(path)
}

object JsonSource extends SourceProvider {
  val format = "json"
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame =
    SourceProvider.reader(spark, options).json(path)
}

object OrcSource extends SourceProvider {
  val format = "orc"
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame =
    SourceProvider.reader(spark, options).orc(path)
}

/** Raw text ingest — how web-corpus dumps actually arrive: one row
  * per line (or per file with `wholetext=true`), a single `value`
  * string column. The write side requires that single-string-column
  * shape, mirroring `DataFrameWriter.text`.
  */
object TextSource extends SourceProvider {
  val format = "text"
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame =
    SourceProvider.reader(spark, options).text(path)
}

/** Media-file ingest for the multimodal pipeline (§2.6): each file
  * becomes one row of (path, modificationTime, length, content:binary)
  * — the binary+metadata schema `Media` decodes. Read-only by nature;
  * `pathGlobFilter`/`recursiveFileLookup` options pass through for
  * extension filtering over a corpus tree.
  */
object BinaryFileSource extends SourceProvider {
  val format = "binaryFile"
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame =
    spark.read.format("binaryFile").options(options).load(path)
}

/** JDBC external source. Exercised at execution against embedded
  * Derby (the one driver in the Spark jars directory) in SourcesSpec;
  * any other driver works the same way once its jar is on the
  * classpath.
  */
object JdbcSource extends SourceProvider {
  val format = "jdbc"
  def read(spark: SparkSession, url: String, options: Map[String, String]): DataFrame =
    spark.read.format("jdbc").option("url", url).options(options).load()
}

final class Catalog(val spark: SparkSession) {
  private val providers: Map[String, SourceProvider] =
    Seq(ParquetSource, CsvSource, JsonSource, OrcSource, TextSource,
      BinaryFileSource, JdbcSource, VTableSource,
      MviewSource).map(p => p.format -> p).toMap

  def read(format: String, path: String, options: Map[String, String] = Map.empty): DataFrame =
    providers.getOrElse(format, throw new IllegalArgumentException(
      s"unknown format '$format'; supported: ${providers.keys.mkString(",")}"))
      .read(spark, path, options)

  def register(name: String, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val df = read(format, path, options)
    df.createOrReplaceTempView(name)
    df
  }

  /** Symmetric write side: land a DataFrame in any supported format.
    * `vtable` honors mode append/overwrite/merge/delete as a committed
    * version (creating the table on first write for append/overwrite;
    * merge and delete key on `options("key")`) and rejects other
    * modes; `jdbc` treats `path` as the connection URL.
    */
  def write(df: DataFrame, format: String, path: String,
      options: Map[String, String] = Map.empty, mode: String = "overwrite"): Unit =
    format match {
      case "vtable" =>
        val vt = VersionedTable(spark, path)
        def key = options.getOrElse("key", throw new IllegalArgumentException(
          s"vtable mode '$mode' needs options(\"key\") naming the merge/delete key column"))
        mode match {
          // options("evolve") = "true" routes append through additive
          // schema evolution (new nullable columns allowed)
          case "append" if options.get("evolve").contains("true") => vt.appendEvolve(df)
          case "append" => vt.append(df)
          case "overwrite" => vt.overwrite(df)
          case "merge" => vt.merge(df, key)
          case "delete" => vt.delete(df, key)
          // CDC apply: df is a change batch (change-type column +
          // ordering column); options("orderBy") names the sequence,
          // options("changeType") overrides the feed dialect
          case "apply" => vt.applyChanges(df, key,
            orderBy = options.getOrElse("orderBy", VersionedTable.CommitVersionCol),
            changeTypeCol = options.getOrElse("changeType",
              VersionedTable.ChangeTypeCol))
          case other => throw new IllegalArgumentException(
            s"vtable supports mode append|overwrite|merge|delete|apply, got '$other'")
        }
        ()
      case "parquet" => df.write.options(options).mode(mode).parquet(path)
      case "csv" =>
        df.write.options(Map("header" -> "true") ++ options).mode(mode).csv(path)
      case "json" => df.write.options(options).mode(mode).json(path)
      case "orc" => df.write.options(options).mode(mode).orc(path)
      case "text" => df.write.options(options).mode(mode).text(path)
      case "jdbc" =>
        df.write.format("jdbc").option("url", path).options(options).mode(mode).save()
      case other => throw new IllegalArgumentException(
        s"unknown format '$other'; supported: ${Catalog.writableFormats.mkString(",")}")
    }

  // Catalog-level cache ops key on the table NAME (not a plan), so they
  // survive view re-registration — see spark.catalog docs.
  def cacheTable(name: String, level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Unit =
    spark.catalog.cacheTable(name, level)

  def uncacheTable(name: String): Unit = spark.catalog.uncacheTable(name)
}

object Catalog {
  /** Single source of truth for `write`'s dispatch — keep in sync by
    * construction, not by hand-editing an error string.
    */
  val writableFormats: Seq[String] =
    Seq("vtable", "parquet", "csv", "json", "orc", "text", "jdbc")
}

/** The driver's test corpus: one parquet file per table under an
  * sf directory (TESTDATA.md). Lazy per-table accessors keep column
  * pruning/pushdown intact (each query re-reads only what it needs).
  */
final case class Tables(spark: SparkSession, sfDir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")

  /** events.ts normalizes to session-local TIMESTAMP regardless of
    * how the generator wrote it: parquet TIMESTAMP(NANOS) (rejected by
    * the vectorized reader; with `spark.sql.legacy.parquet.nanosAsLong
    * =true` it arrives as LONG nanos — convert via integer division,
    * exact where a double roundtrip would lose precision at 2^53) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (inferred TIMESTAMP_NTZ,
    * which time-arithmetic functions like unix_micros reject — cast
    * under the engine's pinned UTC session, a micros-identity). Every
    * consumer below sees one type, whichever vintage of the corpus is
    * on disk.
    */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Register every table as a temp view (for `spark.sql` queries). */
  def registerAll(): Unit = Tables.names.foreach { n =>
    (if (n == "events") events else t(n)).createOrReplaceTempView(n)
  }
}

object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}

/** Contract-visible multi-format round-trip: write `nation` through
  * each non-parquet provider, read it back through the Catalog, and
  * report per-format row/name counts. The oracle is the invariant
  * (counts survive any faithful round-trip), so this runs under the
  * DuckDB gate even though DuckDB never sees the temp files.
  */
object SourceRoundtrip {

  // Contract query functions are constructed freely (plan audits,
  // explain tooling), so the write side effect is memoized per
  // corpus: first construction writes the three formats, later
  // constructions reuse the files.
  private val written = new graft.util.CorpusMemo[String]()

  private def writeOnce(t: Tables): String =
    written.getOrBuild(t) {
      val base = graft.util.TempDirs.createWithCleanup("graft-roundtrip")
      val nation = t.nation
      Seq("csv", "json", "orc").foreach { fmt =>
        val w = nation.write.mode("overwrite")
        fmt match {
          case "csv" => w.option("header", "true").csv(s"$base/$fmt")
          case "json" => w.json(s"$base/$fmt")
          case "orc" => w.orc(s"$base/$fmt")
        }
      }
      base
    }

  def qSourceRoundtrip(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    val cat = new Catalog(t.spark)
    val base = writeOnce(t)
    Seq("csv", "json", "orc").map { fmt =>
      cat.read(fmt, s"$base/$fmt")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("n_name")).as("n_names"))
        .withColumn("fmt", lit(fmt))
        .select("fmt", "n_rows", "n_names")
    }.reduce(_ unionAll _).orderBy("fmt")
  }
}
