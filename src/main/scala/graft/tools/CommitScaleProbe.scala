package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Commit-path scale probe: how does the driver-side metadata path —
  * per-file stats collection, self-contained JSON manifest write,
  * manifest parse, `currentVersion` — behave as the FILE COUNT in a
  * single table grows toward the many-thousand-file manifests a
  * 100 TB deployment carries?
  *
  * The standing concern (round-6 verdict): every commit writes one
  * self-contained JSON manifest listing EVERY live file with stats,
  * so at large file counts the O(files) JSON serialize/parse could
  * dominate small commits. This probe measures, per file count N:
  *
  *   - `bulk_commit_s`: append of an N-partition frame (includes the
  *     parquet task writes — the distributed part; reported for
  *     context, not the metric under test)
  *   - `small_commit_s`: a 1-file append onto the N-file table — pure
  *     metadata overhead dominates (parse N-entry manifest, carry
  *     stats, write N+1-entry manifest); THE number that regresses
  *     when the manifest path stops scaling
  *   - `manifest_kb`: manifest JSON size at N files
  *   - `parse_s`: cold manifest parse + file-list + stats extraction
  *     (fresh VersionedTable instance, so no memo)
  *   - `current_version_s`: the version probe a lazy scan pays
  *   - `plan_s`: `scan()` construction + one `count()` over the
  *     manifest-backed snapshot
  *
  * A second dimension (round-12): LEDGER CARRY. The COPY INTO load
  * ledger, RETIRED storage names, and the constraint set ride EVERY
  * manifest forward, so a landing-zone table that has ingested L
  * source files carries an L-entry ledger in each subsequent commit
  * — even a 1-file append. Per ledger size L this measures:
  *
  *   - `stamp_commit_s`: the commit that first records the L-entry
  *     ledger (the ingest commit itself)
  *   - `small_commit_s`: a 1-file append onto the ledger-bearing
  *     table — the steady-state carry cost every later commit pays
  *   - `manifest_kb` / `bytes_per_entry`: what the ledger adds to
  *     every manifest on disk
  *   - `parse_s`: cold describe (manifest parse) with the ledger in
  *     the document
  *
  * These numbers decide whether the ledger needs checkpoint-style
  * compaction before the columnar-stats sidecar does.
  *
  * Run: `sbt "runMain graft.tools.CommitScaleProbe 1000,5000,20000"`.
  * Second arg overrides the ledger sizes (default 10000,100000).
  * One JSON line per N / per L on stdout; findings recorded in
  * PROGRESS.md with the threshold decision.
  */
object CommitScaleProbe {

  def main(args: Array[String]): Unit = {
    val ns = args.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1000, 5000, 20000, 50000))
    val ledgerNs = args.drop(1).headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(10000, 100000))
    val spark = graft.engine.GraftSession.getOrCreate(
      master = "local[8]", appName = "graft-commit-probe", shufflePartitions = 8)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    ns.foreach { n =>
      val root = graft.util.TempDirs.createWithCleanup("graft-cprobe")
      val dir = root + "/t"
      val vt = VersionedTable(spark, dir)
      // n files, a handful of rows each — the shape of a streaming
      // table before compaction, scaled
      val df = spark.range(n.toLong * 4)
        .select(col("id").as("k"), (col("id") % 997).cast("double").as("v"))
        .repartition(n)
      val (_, bulk) = timed(vt.append(df))
      val one = spark.range(4).select(col("id").as("k"),
        (col("id") % 997).cast("double").as("v")).coalesce(1)
      val (_, small) = timed(vt.append(one))
      val manifestPath = java.nio.file.Paths.get(dir, "_graft_log", "v00000002.json")
      val bytes = java.nio.file.Files.size(manifestPath)
      // fresh instance: no memoized scanMeta / manifest state
      val cold = VersionedTable(spark, dir)
      val (_, cv) = timed(cold.currentVersion)
      val (_, parse) = timed(cold.describeJson())
      val (_, plan) = timed(cold.scan().count())
      // bloom+NDV-indexed variant of the bulk commit: the stats job
      // builds a bloom blob per (file, column), but the sidecar write
      // is TASK-side — only the scalar stats row per file transits the
      // driver collect, so driver traffic stays flat with file count.
      // sidecar_mb is what landed on disk WITHOUT passing through the
      // driver (at the default 1M/0.01 sizing that is ~1.2 MB/file —
      // the probe uses a smaller filter so the probe itself stays
      // quick; the driver-side claim is sizing-independent).
      val bdir = root + "/tb"
      val bvt = VersionedTable(spark, bdir)
      bvt.enableBloom(Seq("k"), expectedItemsPerFile = 1L << 14)
      bvt.enableNdv(Seq("k"))
      // live-set delta, not allocation rate: GC before both readings,
      // so transient task/collect garbage doesn't masquerade as
      // driver-side retention
      def liveHeap(): Long = {
        System.gc(); System.gc()
        Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
      }
      val heapBefore = liveHeap()
      val (_, bloomBulk) = timed(bvt.append(df))
      val heapAfter = liveHeap()
      val sidecarBytes = {
        val d = new java.io.File(bdir)
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
          else if (f.getName.contains(".bloom-") || f.getName.contains(".ndv-"))
            f.length
          else 0L
        walk(d)
      }
      def ms(x: Double) = f"$x%.3f"
      println(s"""{"files":$n,"bulk_commit_s":${ms(bulk)},""" +
        s""""small_commit_s":${ms(small)},"manifest_kb":${bytes / 1024},""" +
        s""""current_version_s":${ms(cv)},"parse_s":${ms(parse)},""" +
        s""""plan_count_s":${ms(plan)},""" +
        s""""bloom_bulk_commit_s":${ms(bloomBulk)},""" +
        s""""sidecar_mb":${sidecarBytes / (1024 * 1024)},""" +
        s""""bloom_commit_heap_delta_mb":${(heapAfter - heapBefore) / (1024 * 1024)}}""")
    }

    // ---- ledger-carry growth --------------------------------------
    ledgerNs.foreach { l =>
      val ldir = graft.util.TempDirs.createWithCleanup("graft-lprobe") + "/t"
      val lvt = VersionedTable(spark, ldir)
      def one = spark.range(4).select(col("id").as("k"),
        (col("id") % 997).cast("double").as("v")).coalesce(1)
      lvt.append(one)
      // stamp an L-entry COPY ledger through the REAL carry path
      // (commitData + extraCopied — the same call copyInto makes),
      // with synthetic path#size#mtime identities: the carry cost is
      // a function of the ledger strings, not of whether the landing
      // files physically exist
      val ledger = (0 until l).map(i =>
        s"/landing/part-$i.parquet#1024#1700000000000")
      val (_, stamp) = timed(lvt.commitData(2, "copy-into", one,
        carryForward = lvt.fileList(1), extraCopied = ledger))
      // steady state: every later commit re-carries the ledger
      val (_, _) = timed(lvt.append(one)) // warm the carry path once
      val (_, small) = timed(lvt.append(one))
      val mp = java.nio.file.Paths.get(ldir, "_graft_log",
        f"v${lvt.currentVersion}%08d.json")
      val bytes = java.nio.file.Files.size(mp)
      val cold = VersionedTable(spark, ldir)
      val (_, parse) = timed(cold.describeJson())
      def ms(x: Double) = f"$x%.3f"
      println(s"""{"ledger_entries":$l,"stamp_commit_s":${ms(stamp)},""" +
        s""""small_commit_s":${ms(small)},"manifest_kb":${bytes / 1024},""" +
        s""""bytes_per_entry":${bytes / math.max(l, 1)},"parse_s":${ms(parse)}}""")
    }
    spark.stop()
  }
}
