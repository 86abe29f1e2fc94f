package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Rnd.round

/** Persisted INVERTED TEXT INDEX — the keyword-search twin of the
  * on-disk ingest indexes ([[DedupIndex]] bands, [[SpanIndex]] spans,
  * [[IvfIndex]] cells): term-bucketed posting lists live on disk, a
  * query opens O(query terms) bucket directories instead of scanning
  * the corpus, and new documents absorb by appending just their
  * postings.
  *
  * Layout under `dir/`:
  *
  *   - `postings/tok_bucket=N/` — (token, doc_id, tf, dl) rows,
  *     directory-partitioned by `pmod(xxhash64(token), Buckets)`.
  *     `dl` (the document's token count) is DENORMALIZED into every
  *     posting: BM25 needs it per matched posting, and carrying 8
  *     bytes per posting beats joining a corpus-sized doc-length
  *     table on `doc_id` at query time — the join would shuffle
  *     O(corpus) rows to serve an O(matched) query.
  *   - `stats/` — a pure-append ledger of (n_docs, sum_dl), one row
  *     per build/absorb commit. Corpus-level BM25 constants (N,
  *     avgdl) aggregate O(commits) ledger rows, never the corpus;
  *     the sums are exact integer folds, so avgdl is bit-identical
  *     to computing it over the full corpus.
  *   - `_params.json` — the bucket count, pinned at build time so a
  *     probe against an index built elsewhere can never hash into
  *     the wrong partition layout.
  *
  * Query cost is O(touched buckets' postings): the bucket set for a
  * term list is computed DRIVER-SIDE (the same xxhash64 the writer
  * used, evaluated on literals — no Spark job), so the scan carries
  * PartitionFilters before any executor starts. A hot term's posting
  * list is O(df) rows — inherent to the question being asked — and
  * everything downstream is partial-agg'd, so the shuffle carries
  * per-(doc, token) rows, never token instances.
  *
  * Single-writer, reader-racing-compaction semantics are the family's
  * ([[graft.util.FoldCommit]]): probes run reader-mode recovery first
  * so a committed-but-interrupted [[compact]] can never double-count
  * folded postings.
  */
object TextIndex {

  /** Bounded directory-partition count — fine enough that a few-term
    * query prunes most of the stored scan, coarse enough that a
    * 10^10-posting corpus still gets multi-GB (splittable) buckets
    * instead of a small-file explosion.
    */
  private val Buckets = 64

  private def paramsPath(dir: String) =
    java.nio.file.Paths.get(dir, "_params.json")

  private def writeParams(dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(paramsPath(dir),
      s"""{"buckets":$Buckets}""".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  private def readBuckets(dir: String): Int = {
    val s = new String(java.nio.file.Files.readAllBytes(paramsPath(dir)),
      java.nio.charset.StandardCharsets.UTF_8)
    """"buckets":(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
  }

  /** The whitespace tokenizer shared with [[TextAnalysis]] — one
    * definition so index-served and corpus-scan scoring agree by
    * construction (and so the DuckDB oracle's `string_split(text, ' ')`
    * replays it exactly).
    */
  private def toks = split(col("text"), " ")

  /** Driver-side twin of the executor's `pmod(xxhash64(token), n)` —
    * Catalyst's own XxHash64 evaluated on a literal (seed 42, the
    * `functions.xxhash64` default), so the query's bucket list is
    * computed with zero Spark jobs and provably the writer's hash.
    */
  private[graft] def bucketOf(term: String, buckets: Int): Long = {
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(term)))
      .eval(null).asInstanceOf[Long]
    val m = h % buckets
    if (m < 0) m + buckets else m
  }

  /** (token, doc_id, tf, dl, positions, tok_bucket) postings for a
    * (doc_id, text) frame: one posexplode, one partial-agg'd count —
    * dl rides along as `size(tokens)` (a scan-level projection, no
    * second pass and no join). POSITIONS (1-based, sorted) make the
    * index positional: phrase and proximity queries answer from
    * postings alone ([[phraseSearch]]) at the classic ~2× posting
    * size cost of a positional inverted index.
    */
  private def postings(docs: DataFrame, buckets: Int): DataFrame =
    docs.select(col("doc_id"), size(toks).as("dl"),
        posexplode(toks).as(Seq("pos0", "token")))
      .groupBy("token", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos0") + 1)).as("positions"))
      .withColumn("tok_bucket", pmod(xxhash64(col("token")), lit(buckets)))

  private def appendBatch(docs: DataFrame, dir: String, buckets: Int,
      mode: SaveMode): Unit = {
    // pre-write repartition on the partition column: one file per
    // bucket per writing task (the family's small-file discipline)
    postings(docs, buckets).repartition(col("tok_bucket"))
      .write.mode(mode).partitionBy("tok_bucket")
      .parquet(s"$dir/postings")
    // the stats ledger row stays distributed end to end — an agg to
    // one row, coalesced to one file, appended; the driver never
    // holds corpus data
    docs.agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(size(toks)), lit(0L)).cast("long").as("sum_dl"))
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"$dir/stats")
    ()
  }

  /** Build the index from scratch over a (doc_id, text) corpus. A
    * rebuild over a previous index directory must not inherit ANY of
    * its state: the postings tree overwrites (SaveMode), and the
    * ledger, streamed epoch trees, the folded-epoch high-water mark,
    * and fold staging all reset by delete — otherwise probes would
    * serve the OLD index's epoch postings beside the new corpus, and
    * the stale high-water mark would silently fence out the new
    * stream's epoch ids.
    */
  def build(docs: DataFrame, dir: String): Unit = {
    writeParams(dir)
    graft.util.FoldCommit.recover(dir, sweepStaging = true) // we own the dir
    // postings/ is deleted explicitly too: under
    // spark.sql.sources.partitionOverwriteMode=dynamic a
    // SaveMode.Overwrite replaces only the tok_bucket partitions the
    // NEW corpus touches, leaving the old index's other buckets live —
    // rebuild semantics must not depend on session conf
    Seq("postings", "stats", "epochs", "_epoch_stage").foreach { sub =>
      val p = java.nio.file.Paths.get(dir, sub)
      if (java.nio.file.Files.isDirectory(p)) graft.util.FoldCommit.rmTree(p)
    }
    java.nio.file.Files.deleteIfExists(foldedMarkPath(dir))
    appendBatch(docs, dir, Buckets, SaveMode.Overwrite)
  }

  /** Absorb new documents: pure partition-aligned append of their
    * postings plus one ledger row; nothing stored is read or
    * rewritten (no read-modify-write, so absorb can never race a
    * probe's view into inconsistency — a reader sees the batch's
    * postings and its ledger row, or neither matters: both sides of
    * every formula that mixes them come from the same scan set).
    */
  def absorb(spark: SparkSession, dir: String, docs: DataFrame): Unit = {
    // finish any committed fold before appending (reader-mode; only
    // compact owns staging)
    graft.util.FoldCommit.recover(dir)
    appendBatch(docs, dir, readBuckets(dir), SaveMode.Append)
  }

  private def hasParquet(p: java.nio.file.Path): Boolean = {
    if (!java.nio.file.Files.isDirectory(p)) return false
    // the walk races the writer's epoch fold (atomic renames + tree
    // deletes); a subtree vanishing mid-walk means the fold moved it —
    // treat as absent rather than failing the probe
    try {
      val s = java.nio.file.Files.walk(p)
      try {
        s.anyMatch(f => f.getFileName != null &&
          f.getFileName.toString.endsWith(".parquet"))
      } finally s.close()
    } catch {
      case _: java.nio.file.NoSuchFileException => false
      case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => false
    }
  }

  /** The full posting set: the compacted base tree plus any streamed
    * epochs not yet folded ([[absorbEpoch]]) — both directory-
    * partitioned on `tok_bucket`, so bucket pruning reaches BOTH scans.
    * The epochs side is bounded by the sink's compaction cadence.
    */
  private def readPostingsTrees(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Paths.get(dir, "postings")
    val epochs = epochsRoot(dir)
    val sides = Seq(
      if (hasParquet(base)) Some(spark.read.parquet(base.toString)) else None,
      if (hasParquet(epochs))
        Some(spark.read.parquet(epochs.toString).drop("epoch"))
      else None).flatten
    require(sides.nonEmpty, s"text index at $dir has no postings")
    sides.reduce(_.unionByName(_))
  }

  /** The pruned posting scan for a term list: PartitionFilters on the
    * driver-computed bucket set, then the token filter — a query for
    * k terms opens at most k of the [[Buckets]] directories.
    */
  private def matchedPostings(spark: SparkSession, dir: String,
      terms: Seq[String]): DataFrame = {
    graft.util.FoldCommit.recover(dir)
    val buckets = readBuckets(dir)
    val bs = terms.map(bucketOf(_, buckets)).distinct
    readPostingsTrees(spark, dir)
      .filter(col("tok_bucket").isin(bs: _*))
      .filter(col("token").isin(terms: _*))
  }

  /** Corpus constants (N, avgdl) — the ledger's exact integer sums
    * plus, while unfolded epochs exist, the same sums derived from the
    * epoch postings (one doc row per doc via min(dl); dl is constant
    * per doc). Epoch derivation is O(unfolded epochs), which the
    * compaction cadence bounds; after a fold the ledger alone answers.
    */
  private def corpusStats(spark: SparkSession, dir: String): DataFrame = {
    val ledger = spark.read.parquet(s"$dir/stats")
      .agg(coalesce(sum("n_docs"), lit(0L)).cast("long").as("n_docs"),
        coalesce(sum("sum_dl"), lit(0L)).cast("long").as("sum_dl"))
    val er = epochsRoot(dir)
    val both =
      if (!hasParquet(er)) ledger
      else ledger.unionByName(
        spark.read.parquet(er.toString)
          .groupBy("doc_id").agg(min("dl").as("dl"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            coalesce(sum("dl"), lit(0L)).cast("long").as("sum_dl")))
    both.agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
  }

  /** Keyword search against the index: documents matching the term
    * list — (doc_id, n_matched, total_tf), AND semantics when
    * `requireAll` (every term present), OR otherwise. One pruned
    * scan, one partial-agg'd hash agg keyed on doc_id; rows out are
    * O(matching docs).
    */
  def search(spark: SparkSession, dir: String, terms: Seq[String],
      requireAll: Boolean = true): DataFrame = {
    val m = matchedPostings(spark, dir, terms)
      .groupBy("doc_id")
      .agg(countDistinct(col("token")).as("n_matched"),
        sum(col("tf")).as("total_tf"))
    if (requireAll) m.filter(col("n_matched") === terms.distinct.size) else m
  }

  /** PHRASE search from the positional index: documents containing
    * the exact token sequence, with the occurrence count —
    * (doc_id, n_hits). The scan stays pruned to the phrase's terms'
    * buckets; matching folds left to right through |phrase|−1
    * doc-keyed joins, each keeping only the positions whose
    * PREDECESSOR position survived the previous step (so `n_hits`
    * counts every occurrence, overlapping ones included — "merge
    * merge" hits twice in "merge merge merge", where substring
    * replacement counting would see one). A one-term phrase
    * degenerates to the term's tf.
    */
  def phraseSearch(spark: SparkSession, dir: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val m = matchedPostings(spark, dir, phrase.distinct)
      .localCheckpoint(eager = false) // one pruned scan feeds every step
    var cur = m.filter(col("token") === phrase.head)
      .select(col("doc_id"), col("positions").as("pos"))
    phrase.tail.foreach { term =>
      val next = m.filter(col("token") === term)
        .select(col("doc_id"), col("positions").as("p2"))
      cur = cur.join(next, "doc_id")
        .select(col("doc_id"),
          filter(col("p2"), p => array_contains(col("pos"), p - 1)).as("pos"))
        .filter(size(col("pos")) > 0)
    }
    cur.select(col("doc_id"), size(col("pos")).cast("long").as("n_hits"))
  }

  /** PROXIMITY (NEAR/k) search from the positional index: documents
    * where `b` occurs within `k` tokens of `a`, with the number of
    * qualifying position PAIRS — (doc_id, n_hits). `ordered` demands
    * `a` before `b` (`0 < pos_b − pos_a <= k`); unordered admits
    * either side (`0 < |pos_b − pos_a| <= k`, so a term never pairs
    * with its own occurrence when `a == b`). `ordered` with k = 1 is
    * exactly the two-term phrase. The scan stays pruned to the two
    * terms' buckets; pairing is per-document over the two posting
    * arrays (higher-order array ops — positions per (term, doc) are
    * bounded by term frequency, no explode touches the corpus).
    */
  def nearSearch(spark: SparkSession, dir: String, a: String, b: String,
      k: Int, ordered: Boolean = false): DataFrame = {
    require(k >= 1, s"NEAR window must be positive, got $k")
    val m = matchedPostings(spark, dir, Seq(a, b).distinct)
      .localCheckpoint(eager = false) // one pruned scan feeds both sides
    val pa = m.filter(col("token") === a)
      .select(col("doc_id"), col("positions").as("pa"))
    val pb = m.filter(col("token") === b)
      .select(col("doc_id"), col("positions").as("pb"))
    def pred(p1: Column, p2: Column): Column =
      if (ordered) p2 > p1 && p2 - p1 <= k
      else p2 =!= p1 && abs(p2 - p1) <= k
    pa.join(pb, "doc_id")
      .select(col("doc_id"),
        aggregate(
          transform(col("pa"), p1 => size(filter(col("pb"), p2 => pred(p1, p2)))),
          lit(0L), (acc, x) => acc + x).as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  /** BM25 top-k per query term, served FROM THE INDEX — no corpus
    * scan: tf/dl come from the matched postings, df folds from them
    * (one row per (token, doc) ⇒ the per-token row count IS the
    * document frequency), and the corpus constants aggregate the
    * O(commits) stats ledger. The arithmetic is assembled in the
    * exact operand order the oracle SQL uses (double float ops are
    * non-associative — structural identity is what makes the hash
    * compare exact), and `avgdl` is an exact-integer-sum division so
    * the ledger path and a full-corpus `sum/count` agree bitwise.
    */
  def bm25(spark: SparkSession, dir: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = matchedPostings(spark, dir, terms)
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val corpus = corpusStats(spark, dir)
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1))
    val denom = col("tf") + lit(k1) *
      (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(corpus))
      .withColumn("score", round(idf * col("tf") * lit(k1 + 1) / denom, 4))
      .withColumn("rk", row_number().over(
        Window.partitionBy("token").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= topK)
      .select("token", "doc_id", "tf", "score", "rk")
  }

  // ─────────────────── streamed (epoch-keyed) ingest ───────────────────

  private def epochsRoot(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "epochs")

  private def foldedMarkPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(dir, "_folded_epochs.txt")

  /** Highest epoch id ever folded into the base tree (-1 before any
    * fold) — [[absorbEpoch]]'s replay fence, same contract as the IVF
    * index's mark: the checkpoint directory is part of the index's
    * identity.
    */
  def maxFoldedEpoch(dir: String): Long = {
    val p = foldedMarkPath(dir)
    if (!java.nio.file.Files.exists(p)) -1L
    else new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong
  }

  private def recordFoldedEpochs(dir: String, maxId: Long): Unit = {
    val v = math.max(maxId, maxFoldedEpoch(dir))
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(dir), "_folded_epochs", ".tmp")
    java.nio.file.Files.write(tmp,
      v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, foldedMarkPath(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // durable BEFORE the fold commits (see IvfIndex.recordFoldedEpochs
    // for the doubling interleaving this closes); best-effort force
    graft.util.FoldCommit.force(foldedMarkPath(dir))
    graft.util.FoldCommit.force(java.nio.file.Paths.get(dir))
    ()
  }

  /** Streamed absorb — foreachBatch's at-least-once delivery made
    * exactly-once: the epoch stages OUTSIDE `epochs/` and lands by one
    * atomic directory rename (a partial epoch is unrepresentable), a
    * redelivered epoch overwrites its own directory (converges), and a
    * redelivery of an epoch compaction ALREADY FOLDED skips whole,
    * loudly (its rows live in the base tree; re-appending would double
    * them). Same append-only corpus semantics as [[absorb]]: a doc_id
    * re-absorbed under a different epoch double-counts — dedup is the
    * pipeline's job ([[SpanIndex]]/[[DedupIndex]] gate ingest).
    * Returns posting rows landed.
    */
  def absorbEpoch(spark: SparkSession, dir: String, docs: DataFrame,
      epochId: Long): Long = {
    val folded = maxFoldedEpoch(dir)
    if (epochId <= folded) {
      System.err.println(
        s"[graft] TextIndex.absorbEpoch SKIPPED epoch $epochId at $dir " +
          s"(folded high-water mark $folded). Legitimate only as a " +
          "foreachBatch redelivery of an already-folded epoch; if this " +
          "fires on EVERY batch, the stream was restarted with a fresh " +
          "checkpointLocation against an existing index — unsupported. " +
          "Resume with the original checkpoint or rebuild the index.")
      return 0L
    }
    val p = postings(docs, readBuckets(dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = p.count()
      if (n > 0) {
        val stage = java.nio.file.Paths.get(dir, "_epoch_stage", s"epoch=$epochId")
        if (java.nio.file.Files.isDirectory(stage))
          graft.util.FoldCommit.rmTree(stage)
        p.repartition(col("tok_bucket"))
          .write.mode(SaveMode.Overwrite).partitionBy("tok_bucket")
          .parquet(stage.toString)
        val target = epochsRoot(dir).resolve(s"epoch=$epochId")
        java.nio.file.Files.createDirectories(target.getParent)
        if (java.nio.file.Files.isDirectory(target)) // replay overwrite
          graft.util.FoldCommit.rmTree(target)
        java.nio.file.Files.move(stage, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      n
    } finally { p.unpersist(); () }
  }

  /** Fold streamed epochs into the base tree + ONE ledger row — the
    * streamed index's OPTIMIZE: moves + the epochs-tree delete ride
    * one [[graft.util.FoldCommit]] cycle (a crash anywhere loses and
    * doubles nothing), and the folded-epoch high-water mark lands
    * durably BEFORE the commit so a redelivered epoch can never
    * re-append folded rows. Returns posting rows folded.
    */
  def compactEpochs(spark: SparkSession, dir: String,
      store: graft.sources.CommitStore = graft.util.FoldCommit.DefaultStore): Long = {
    graft.util.FoldCommit.recover(dir, sweepStaging = true)
    val epochStage = java.nio.file.Paths.get(dir, "_epoch_stage")
    if (java.nio.file.Files.isDirectory(epochStage))
      graft.util.FoldCommit.rmTree(epochStage)
    val er = epochsRoot(dir)
    if (!java.nio.file.Files.isDirectory(er)) return 0L
    val epochIds = {
      val s = java.nio.file.Files.list(er)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
          .map(_.getFileName.toString)
          .collect { case n if n.startsWith("epoch=") =>
            n.stripPrefix("epoch=").toLong }
          .toList
      } finally s.close()
    }
    if (epochIds.isEmpty) {
      graft.util.FoldCommit.rmTree(er) // empty shell: writer-owned sweep
      return 0L
    }
    val rows = spark.read.parquet(er.toString).drop("epoch")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rows.count()
      val foldId = java.util.UUID.randomUUID().toString.take(8)
      if (n > 0) {
        val stage = graft.util.FoldCommit.stageDir(dir, foldId)
        rows.repartition(col("tok_bucket"))
          .write.mode(SaveMode.Overwrite).partitionBy("tok_bucket")
          .parquet(stage.resolve("postings").toString)
        rows.groupBy("doc_id").agg(min("dl").as("dl"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            coalesce(sum("dl"), lit(0L)).cast("long").as("sum_dl"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(stage.resolve("stats").toString)
      }
      recordFoldedEpochs(dir, epochIds.max)
      graft.util.FoldCommit.commit(dir, foldId, ".", Seq("epochs"), store)
      n
    } finally { rows.unpersist(); () }
  }

  /** OPTIMIZE: fold streamed epochs into the base tree, then each
    * append-grown bucket directory back to one file and the stats
    * ledger back to one row (an exact integer fold) — three
    * independently crash-safe [[graft.util.FoldCommit]] cycles.
    * Returns posting rows rewritten; 0 when already compact.
    */
  def compact(spark: SparkSession, dir: String,
      store: graft.sources.CommitStore = graft.util.FoldCommit.DefaultStore): Long = {
    compactEpochs(spark, dir, store)
    val n = graft.util.FoldCommit.compactPartitionedTree(spark, dir,
      "postings", "tok_bucket", store)
    compactStats(spark, dir, store)
    n
  }

  /** Fold the stats ledger to one row. Its own FoldCommit cycle
    * (stage → claim → roll forward) so a crash between the postings
    * fold and this one leaves two independently consistent trees.
    */
  private def compactStats(spark: SparkSession, dir: String,
      store: graft.sources.CommitStore): Unit = {
    graft.util.FoldCommit.recover(dir, sweepStaging = true)
    val statsRoot = java.nio.file.Paths.get(dir, "stats")
    if (!java.nio.file.Files.isDirectory(statsRoot)) return
    val files = graft.util.FoldCommit.listDataFiles(statsRoot)
    if (files.size <= 1) return
    val foldId = java.util.UUID.randomUUID().toString.take(8)
    spark.read.parquet(files.map(_.toString): _*)
      .agg(coalesce(sum("n_docs"), lit(0L)).cast("long").as("n_docs"),
        coalesce(sum("sum_dl"), lit(0L)).cast("long").as("sum_dl"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(graft.util.FoldCommit.stageDir(dir, foldId).toString)
    graft.util.FoldCommit.commit(dir, foldId, "stats",
      files.map(f => java.nio.file.Paths.get(dir).relativize(f).toString),
      store)
  }

  private val built = new graft.util.CorpusMemo[String]()

  /** The contract queries' memoized corpus index — built over the
    * even-doc_id half, then the odd half ABSORBED, so the gate
    * exercises build AND incremental append on every run; exposed so
    * the bench bills the build under `index_build` and the timed
    * queries measure the pruned probe path.
    */
  def corpusIndexDir(t: graft.sources.Tables): String =
    built.getOrBuild(t) {
      val d = graft.util.TempDirs.createWithCleanup("graft-text-idx")
      val docs = t.documents.select("doc_id", "text")
      build(docs.filter(col("doc_id") % 2 === 0), d)
      absorb(t.spark, d, docs.filter(col("doc_id") % 2 === 1))
      d
    }

  /** Contract query — FULLY DuckDB-oracled (keyword conjunction is
    * plain SQL): every document containing ALL query terms, with the
    * distinct-term count and summed term frequency, answered from the
    * index alone (build even half + absorb odd half ≡ full corpus, so
    * the oracle scans `documents` directly).
    */
  def qTextSearch(t: graft.sources.Tables): DataFrame =
    search(t.spark, corpusIndexDir(t), Seq("spark", "merge"))
      .orderBy("doc_id")

  /** Contract query — index-served BM25, FULLY DuckDB-oracled against
    * the corpus-scan formula: same terms/constants as
    * [[TextAnalysis.qBm25]], but tf/dl/df/N/avgdl all come from the
    * stored postings + ledger. Equality with the corpus-scan oracle
    * proves the whole chain: build, absorb, denormalized dl, ledger
    * folds, pruned probe.
    */
  def qTextIndexBm25(t: graft.sources.Tables): DataFrame =
    bm25(t.spark, corpusIndexDir(t), Seq("spark", "merge", "window"))
      .orderBy("token", "rk")

  /** Contract query — positional PHRASE search, FULLY DuckDB-oracled:
    * every document containing the exact token bigram, with the
    * occurrence count; the oracle re-derives token positions with
    * `list_zip(string_split(...), range(...))` and counts adjacent
    * pairs, so overlapping occurrences gate exactly.
    */
  def qPhraseSearch(t: graft.sources.Tables): DataFrame =
    phraseSearch(t.spark, corpusIndexDir(t), Seq("spark", "merge"))
      .orderBy("doc_id")

  /** Contract query for [[nearSearch]]: both proximity modes over the
    * same streamed index in one frame — unordered NEAR/3 and ordered
    * a-before-b within 3 — oracled against the list_zip position
    * replay's pair counts.
    */
  def qNearSearch(t: graft.sources.Tables): DataFrame = {
    val dir = corpusIndexDir(t)
    nearSearch(t.spark, dir, "spark", "merge", k = 3)
      .select(lit("any").as("mode"), col("doc_id"), col("n_hits"))
      .unionByName(
        nearSearch(t.spark, dir, "spark", "merge", k = 3, ordered = true)
          .select(lit("ord").as("mode"), col("doc_id"), col("n_hits")))
      .orderBy("mode", "doc_id")
  }

  /** Contract query for the TEXT-INDEX TVF surface through the
    * service's SQL entry point (the REST /sql engine): a composed
    * probe — keyword AND conjunction left-joined with the NEAR/3 pair
    * counts — written entirely in SQL over `text_search`/`text_near`.
    * TextIndexSpec asserts the plan behind this exact path keeps
    * PartitionFilters bucket pruning on both TVF scans.
    */
  def qTextTvf(t: graft.sources.Tables): DataFrame = {
    val dir = corpusIndexDir(t)
    new graft.service.QueryService(t.spark).sql(
      s"""SELECT s.doc_id, s.n_matched, s.total_tf,
         |  coalesce(n.n_hits, 0) AS near_hits
         |FROM text_search('$dir', 'spark,merge') s
         |LEFT JOIN text_near('$dir', 'spark', 'merge', 3) n
         |  ON s.doc_id = n.doc_id
         |ORDER BY s.doc_id""".stripMargin)
  }
}
