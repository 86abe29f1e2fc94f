package graft.tools

import org.apache.spark.sql.functions._

import graft.engine.GraftSession
import graft.sources.{Tables, VersionedTable}

/** Executable end-to-end lifecycle of the ACID versioned table — the
  * lakehouse story a user runs against this library: batch append →
  * streaming-shaped epoch appends → Z-order compaction → stats-pruned
  * MERGE and DELETE → time travel → vacuum. Every step is the same
  * operator VersionedTableSpec verifies; this main just narrates the
  * sequence with the manifest evidence (file counts, carried files,
  * versions) printed at each stage.
  *
  *   sbt "runMain graft.tools.TableDemo [sfDir] [tableDir]"
  */
object TableDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val dir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-tabledemo").toString + "/orders")
    val spark = GraftSession.getOrCreate()
    val t = Tables(spark, sfDir)
    val vt = VersionedTable(spark, dir)

    val orders = t.orders.select(col("o_orderkey").as("id"),
      col("o_totalprice").as("price"), col("o_orderdate").as("odate"))

    // 1. batch append, then a burst of small streaming-shaped epochs
    vt.append(orders.filter(col("id") % 4 === 0))
    (0 to 2).foreach { e =>
      vt.appendEpoch(orders.filter(col("id") % 4 === e + 1).coalesce(1), e.toLong)
    }
    println(s"[1] after appends: v=${vt.currentVersion} " +
      s"files=${vt.fileList(vt.currentVersion).size} rows=${vt.read().count()}")

    // 2. compact with Z-order on (id, price): small files bin-packed,
    //    per-file stats tight on BOTH columns
    val vC = vt.compact(targetBytes = 4 << 20, clusterBy = Seq("id", "price"))
    println(s"[2] after z-order compact: v=$vC files=${vt.fileList(vC).size}")

    // 3. stats-pruned MERGE: bump prices for a narrow id band; carried
    //    files are the manifest's proof pruning bit
    val before = vt.fileList(vt.currentVersion).toSet
    val updates = orders.filter(col("id") < 512)
      .withColumn("price", graft.operators.Rnd.round(col("price") * 1.05, 2))
    val vM = vt.merge(updates, "id")
    val carried = vt.fileList(vM).count(before.contains)
    println(s"[3] after pruned merge: v=$vM carried=$carried/${before.size} files")

    // 4. stats-pruned DELETE of another id band (sf0.001 ids < 1500)
    val vD = vt.delete(orders.filter(col("id") > 1200).select("id"), "id")
    println(s"[4] after delete: v=$vD rows=${vt.read().count()}")

    // 5. time travel: every prior version still reads
    println(s"[5] time travel: v1 rows=${vt.read(1).count()} " +
      s"vs current rows=${vt.read().count()}")

    // 6. vacuum history beyond the last two versions
    val freed = vt.vacuum(retainVersions = 2)
    println(s"[6] vacuum freed $freed files; current still reads " +
      s"rows=${vt.read().count()} epoch=${vt.lastCommittedEpoch.getOrElse(-1L)}")

    // 7. LAZY scan: the optimizer prunes files for plain SQL — no
    //    readWhere call anywhere
    vt.scan().createOrReplaceTempView("orders_t")
    val sel = spark.sql("SELECT count(*) AS n FROM orders_t WHERE id BETWEEN 1000 AND 1999")
    println(s"[7] lazy-scan SQL point band: n=${sel.head().getLong(0)} " +
      s"(of ${vt.fileList(vt.currentVersion).size} files the plan opens only the band's)")

    // 8. metadata-only aggregates: answered from the commit manifest,
    //    zero data files opened
    val meta = spark.sql(
      "SELECT count(*) AS n, count(price) AS n_p, min(id) AS lo, max(id) AS hi FROM orders_t").head()
    println(s"[8] metadata aggregates: n=${meta.getLong(0)} n_price=${meta.getLong(1)} " +
      s"id in [${meta.getLong(2)}, ${meta.getLong(3)}]")

    // 9. dynamic file pruning: a key set that exists only as data
    //    prunes the fact scan via its executed bounds
    val keys = orders.filter(col("id").between(600L, 700L)).select(col("id").as("k"))
      .localCheckpoint()
    val dfp = vt.scan().join(keys, col("id") === col("k"), "left_semi")
    println(s"[9] DFP semi-join rows=${dfp.count()}")

    // 10. O(metadata) DESCRIBE (over SQL: DESCRIBE DETAIL + table_stats)
    println(s"[10] describe: ${vt.describeJson()}")

    spark.stop()
  }
}
