package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, conv, count, expr, hex, input_file_name, least, lit, max, min, substring, sum, when}
import org.apache.spark.sql.types._

import graft.operators.Merge

/** Minimal ACID table format over plain parquet — the Delta-lake
  * design (Armbrust et al., "Delta Lake: High-Performance ACID Table
  * Storage over Cloud Object Stores", VLDB 2020) reduced to its core:
  *
  *   table_dir/
  *     _graft_log/v00000001.json   ordered commit log; each entry
  *     _graft_log/v00000002.json   names the EXACT data files of that
  *     ...                         version (relative paths) + schema
  *                                 + per-file column min/max stats
  *     _graft_log/checkpoint-*.json  full-state copy every Nth commit
  *     _graft_log/_last_checkpoint   advisory pointer to the newest one
  *     files-<uuid>/part-*.parquet immutable data files
  *
  * A version is committed by an atomic put-if-absent of `v{n+1}.json`
  * through the pluggable [[CommitStore]], so two writers can never
  * both commit version n+1 (optimistic concurrency; the loser's data
  * files are cleaned up and it retries on a fresh snapshot). Data
  * files land before the commit and are invisible until the manifest
  * does, so readers always see a complete snapshot: reads resolve a
  * version's fixed file list, never a directory listing. The default
  * store claims with `Files.createLink` — link(2) fails EEXIST
  * atomically at the filesystem level — falling back to a mkdir(2)
  * lock directory on linkless filesystems (the JDK's rename path is
  * check-then-rename, and a verify-after-rename scheme can only
  * detect some lost commits, not prevent them). On object stores the
  * claim is the store's conditional PUT (`If-None-Match: *` /
  * `ifGenerationMatch=0`) via [[CommitStore.ConditionalPut]] — never
  * an assumed-atomic rename.
  *
  * Every commit written through `commitData` records per-file min/max
  * for each atomic column (harvested with one column-pruned pass over
  * only the freshly written files; a production writer gets the same
  * numbers free from the parquet footers it just wrote). MERGE uses
  * them for partition-pruned copy-on-write: only files whose key range
  * intersects the update set's key range are rewritten; every other
  * file is carried forward by path, untouched — O(touched + updates)
  * per upsert batch instead of a full-table rewrite, the same file-
  * stats pruning Delta does, and the difference between a usable and
  * an unusable table at 100 TB.
  *
  * The log is O(commits) small JSON files; every Nth commit also
  * writes a self-contained checkpoint manifest and bumps the advisory
  * `_last_checkpoint` pointer, so `currentVersion` probes FORWARD from
  * the checkpointed version (O(commits since checkpoint) existence
  * checks) instead of listing the whole log directory — O(1) metadata
  * ops on a long-lived table.
  */
final class VersionedTable private (val spark: SparkSession, val dir: String) {

  import VersionedTable.{CheckpointInterval, Rewrite, StatStringMax}

  private val mapper = new ObjectMapper()
  private def logDir: Path = Paths.get(dir, "_graft_log")
  private def manifestPath(v: Int): Path = logDir.resolve(f"v$v%08d.json")
  private def checkpointPath(v: Int): Path = logDir.resolve(f"checkpoint-$v%08d.json")
  private def pointerPath: Path = logDir.resolve("_last_checkpoint")
  private def cdfMarkerPath: Path = logDir.resolve("_cdf_enabled")
  private def feedsDir: Path = logDir.resolve("feeds")

  /** One lease file per registered change-feed consumer. The raw id
    * (a checkpoint path, typically) is sanitized into the filename and
    * disambiguated by hash; the JSON keeps the original for error
    * messages.
    */
  private def leasePath(consumerId: String): Path = {
    val safe = consumerId.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(64)
    feedsDir.resolve(s"$safe-${Integer.toHexString(consumerId.hashCode)}.json")
  }

  /** Record (or advance) a change-feed consumer's durable progress:
    * the consumer has committed everything THROUGH `readThrough` and
    * still needs every later version to remain replayable.
    * [[vacuum]] refuses to drop versions a fresh lease protects, so a
    * replica briefly offline no longer discovers ResyncRequired at its
    * next read — the retention race the round-6 CDC work left open.
    * Written by [[graft.streaming.VTableChangeSource]] from its
    * checkpointed offset on every batch; callers driving
    * [[readChangesSince]] by hand can register one too. Atomic
    * replace; last writer wins (progress only ever advances for a
    * single consumer, so order races are benign).
    */
  def registerFeedLease(consumerId: String, readThrough: Int): Unit = {
    Files.createDirectories(feedsDir)
    val tmp = Files.createTempFile(feedsDir, ".lease-", ".tmp")
    Files.writeString(tmp,
      mapper.writeValueAsString(mapper.createObjectNode()
        .put("id", consumerId).put("v", readThrough)
        .put("ts", System.currentTimeMillis())))
    Files.move(tmp, leasePath(consumerId),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Drop a consumer's lease — a decommissioned replica stops holding
    * retention back immediately instead of waiting out the lease age.
    */
  def releaseFeedLease(consumerId: String): Unit = {
    Files.deleteIfExists(leasePath(consumerId)); ()
  }

  /** Registered consumer id → (read-through version, lease wall time). */
  def feedLeases: Map[String, (Int, Long)] = {
    if (!Files.isDirectory(feedsDir)) return Map.empty
    val s = Files.list(feedsDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .flatMap { p =>
          try {
            val n = mapper.readTree(p.toFile)
            Some(n.get("id").asText() -> (n.get("v").asInt(), n.get("ts").asLong()))
          } catch { case NonFatal(_) => None } // torn write: skip, not fail
        }.toMap
    } finally s.close()
  }

  /** Opt into row-level change tracking (Delta's
    * `enableChangeDataFeed` table property): from now on every
    * rewriting commit (merge / delete / deleteWhere / updateWhere)
    * also writes its row-level changes as change files, and
    * [[readChangesSince]] can serve a complete change feed across
    * them. Appends never need change files (the fresh data files ARE
    * the inserts), so enabling costs nothing on the append path;
    * rewrites pay one extra write proportional to the CHANGED rows —
    * the price of not making every downstream consumer rescan the
    * snapshot. Idempotent; applies to commits AFTER the call (earlier
    * rewrites still answer with the resync signal).
    */
  def enableCdf(): Unit = {
    Files.createDirectories(logDir)
    if (!Files.exists(cdfMarkerPath))
      try { Files.createFile(cdfMarkerPath); () }
      catch { case _: FileAlreadyExistsException => () } // racing enable: both win
  }

  /** Is row-level change tracking on for this table? */
  def cdfEnabled: Boolean = Files.exists(cdfMarkerPath)

  private def bloomConfigPath: Path = logDir.resolve("_bloom")

  /** Opt into per-file Bloom filter indexes on `columns` (Delta's
    * bloom filter index): every data file written from now on gets a
    * `<file>.bloom-<col>` sidecar — a [[graft.functions.BloomAgg]]
    * filter over the column's xxhash64 values, built inside the same
    * one-pass stats job every commit already runs. Point lookups
    * (key-set DELETE / MERGE, `readWhere(col === x)`) then skip files
    * the filter PROVES key-free — the case min/max ranges can't touch:
    * a uuid-keyed table where every file's range spans the whole
    * domain. False positives only cost IO; false negatives are
    * impossible, so skipping stays sound-only. Filters are sized for
    * `expectedItemsPerFile` rows at `fpp` (Bloom '70 formulas —
    * oversizing wastes sidecar bytes, undersizing raises the fp rate,
    * neither affects correctness). Existing files have no sidecars and
    * stay conservatively unprunable.
    */
  def enableBloom(columns: Seq[String], expectedItemsPerFile: Long = 1L << 20,
      fpp: Double = 0.01): Unit = {
    require(columns.nonEmpty, "enableBloom needs at least one column")
    require(columns.forall(_.matches("[A-Za-z0-9_]+")),
      s"bloom columns must be simple identifiers (they name sidecar files): $columns")
    require(expectedItemsPerFile >= 1 && fpp > 0 && fpp < 1,
      s"need expectedItemsPerFile >= 1 and fpp in (0,1); got $expectedItemsPerFile, $fpp")
    Files.createDirectories(logDir)
    val node = mapper.createObjectNode()
    val arr = node.putArray("columns")
    columns.foreach(arr.add)
    node.put("expected", expectedItemsPerFile)
    node.put("fpp", fpp)
    atomicReplace(bloomConfigPath, node)
  }

  private def constraintsPath: Path = logDir.resolve("_constraints")

  /** Named CHECK constraints (Delta's `ALTER TABLE ADD CONSTRAINT …
    * CHECK`): boolean SQL expressions every row written from now on
    * must satisfy. The constraint set is VERSIONED table metadata —
    * each manifest carries it, commits carry it forward, and
    * add/dropConstraint are themselves commits claimed through the
    * [[CommitStore]]. That claim is what closes the add-vs-write race
    * Delta closes with metadata conflict detection: the add validates
    * the EXISTING data of a pinned snapshot v and then claims v+1, so
    * either it wins (and any in-flight writer who validated against
    * the old set loses its own claim of v+1 and re-validates against
    * the new set on retry) or a data commit got there first (and the
    * add re-scans the new snapshot). No window remains in which a
    * writer's rows land unvalidated — "scan was clean" and "no commit
    * interleaved" are one atomic fact, the claim itself.
    *
    * Adding also validates the expression analyzes as BOOLEAN against
    * the current schema; thereafter every data commit validates its
    * NEW files in one bounded scan before the manifest claim, so a
    * violating batch refuses and its files reclaim — nothing
    * half-lands. NULL evaluates as a violation (the SQL-standard
    * CHECK accepts NULL; a data-quality gate that lets NULL through
    * silently is a trap — de-NULL in the expression with
    * `coalesce`/`IS NULL` disjuncts if NULLs are intended to pass).
    * Carried (unrewritten) files were validated by their own commits
    * or the add-time scan and never re-validate: enforcement cost is
    * O(new rows) per commit. A failed add commits nothing — there is
    * no enforced-but-reported-failed state to roll back. RESTORE
    * keeps the pre-restore constraint set but does not re-validate
    * the restored files, so restoring past an add can resurrect
    * pre-constraint rows — the same window Delta documents.
    */
  def addConstraint(name: String, conditionSql: String): Unit = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint names must be simple identifiers, got `$name`")
    // the schema to analyze against lives in the manifests — a
    // constraint on a never-committed table would be unvalidated text
    require(currentVersion > 0,
      s"table at $dir has no committed version; add constraints after the first commit")
    // must ANALYZE as a boolean over the table's schema, now
    val probeType = scan().select(expr(conditionSql)).schema.head.dataType
    require(probeType == BooleanType,
      s"CHECK constraint must be a BOOLEAN expression, got ${probeType.simpleString}")
    Files.createDirectories(logDir)
    retrying {
      val prev = currentVersion
      val existing = constraintsAt(prev)
      require(!existing.exists(_._1 == name),
        s"constraint `$name` already exists (drop it first to replace)")
      // validate EXISTING data of the PINNED snapshot prev — not the
      // drifting head: the claim of prev+1 below fails if anything
      // committed after prev, so a clean scan that wins its claim has
      // provably validated every committed row
      val bad = read(prev)
        .agg(sum(when(!coalesce(expr(conditionSql), lit(false)), 1L)
          .otherwise(0L)).as("bad"))
        .head()
      require(bad.isNullAt(0) || bad.getLong(0) == 0,
        s"cannot add CHECK constraint `$name` ($conditionSql): " +
          s"${bad.getLong(0)} existing row(s) violate it (NULL evaluates " +
          "as a violation — de-NULL with coalesce/IS NULL if NULLs should pass)")
      commitConstraints(prev + 1, "add-constraint",
        existing :+ (name -> conditionSql))
    }
  }

  /** ENFORCED UNIQUE constraint over `cols` (what Delta/Iceberg leave
    * informational): every later data commit proves it created no
    * duplicate key before its manifest claims. The proof is complete
    * yet never O(table) per commit: a post-commit duplicate pair must
    * involve at least one freshly written row (the carried files are a
    * subset of the previous — already unique — snapshot), so checking
    * (a) the fresh files internally and (b) fresh keys against the
    * carried files PRUNED by the batch's key range through the
    * per-file stats covers every pair — O(batch + overlapping files).
    * Rows with a NULL in any constrained column are exempt (SQL's
    * UNIQUE: NULLs are distinct). The add itself validates the whole
    * existing snapshot once, like [[addConstraint]]; RESTORE shares
    * the same documented resurrect window.
    */
  def addUniqueConstraint(name: String, cols: Seq[String]): Unit = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint names must be simple identifiers, got `$name`")
    require(cols.nonEmpty, "UNIQUE needs at least one column")
    require(currentVersion > 0,
      s"table at $dir has no committed version; add constraints after the first commit")
    val schemaCols = scan().columns.toSet
    cols.foreach(c => require(schemaCols.contains(c),
      s"UNIQUE column `$c` is not in the table's schema (${schemaCols.mkString(", ")})"))
    Files.createDirectories(logDir)
    retrying {
      val prev = currentVersion
      val existing = constraintsAt(prev)
      require(!existing.exists(_._1 == name),
        s"constraint `$name` already exists (drop it first to replace)")
      val dup = read(prev)
        .filter(cols.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(cols.map(col): _*)
        .agg(count(lit(1)).as("__uq_n"))
        .filter(col("__uq_n") > 1)
        .limit(1).collect()
      require(dup.isEmpty,
        s"cannot add UNIQUE constraint `$name` (${cols.mkString(", ")}): " +
          s"existing rows duplicate key ${dup.headOption.map(_.toString).getOrElse("")}")
      commitConstraints(prev + 1, "add-constraint",
        existing :+ (name -> s"${VersionedTable.UniquePrefix}${cols.mkString(",")}"))
    }
  }

  /** Remove a named constraint; returns whether it existed. The drop
    * is a metadata commit like [[addConstraint]], serializing with
    * every writer through the claim protocol.
    */
  def dropConstraint(name: String): Boolean = retrying {
    val prev = currentVersion
    val existing = constraintsAt(prev)
    existing.exists(_._1 == name) && {
      commitConstraints(prev + 1, "drop-constraint",
        existing.filterNot(_._1 == name))
      true
    }
  }

  /** Claim `v` as a METADATA-ONLY commit: version v-1's exact file
    * list, schema, stats and epoch, with the constraint set replaced.
    * File-list-identical, so the incremental consumers
    * ([[readAppendsSince]], [[readChangesSince]]) classify it as a
    * zero-change commit, never a resync. After the claim the manifest
    * is the constraint authority; the legacy unversioned sidecar (if
    * this table predates versioned constraints) is superseded and
    * swept best-effort — a manifest node, even empty, outranks it.
    */
  private def commitConstraints(v: Int, op: String,
      cs: Seq[(String, String)]): Unit = {
    recommit(v, op, manifest(v - 1), constraintsOverride = Some(cs))
    try { Files.deleteIfExists(constraintsPath); () }
    catch { case NonFatal(_) => () }
  }

  /** The live constraints, name-sorted (deterministic error order):
    * the head manifest's constraints node when present, else the
    * legacy sidecar (tables whose constraints were written before they
    * became versioned metadata).
    */
  def constraintList: Seq[(String, String)] = constraintsAt(currentVersion)

  /** The constraint set in force at version `v`. A manifest WITH a
    * constraints node (even empty) is the authority; one without
    * falls back to the legacy sidecar.
    */
  private def constraintsAt(v: Int): Seq[(String, String)] =
    (if (v > 0) constraintsOf(manifest(v)) else None)
      .getOrElse(legacyConstraintSidecar)

  /** The constraints node a manifest carries, if it is
    * constraint-aware (None = pre-versioned-constraints manifest).
    */
  private def constraintsOf(m: JsonNode): Option[Seq[(String, String)]] =
    Option(m.get("constraints")).map { n =>
      import scala.jdk.CollectionConverters._
      n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue.asText())
        .sortBy(_._1)
    }

  /** UNLIKE the advisory bloom/NDV configs, an unreadable legacy
    * constraint file THROWS: constraints are correctness-bearing —
    * swallowing a transient read failure would let a violating batch
    * commit with enforcement silently off. The file was written via
    * atomic replace, so a parse failure is real I/O trouble, not a
    * torn write.
    */
  private def legacyConstraintSidecar: Seq[(String, String)] =
    if (!Files.exists(constraintsPath)) Seq.empty
    else {
      val n =
        try mapper.readTree(constraintsPath.toFile)
        catch {
          case NonFatal(e) => throw new IllegalStateException(
            s"cannot read CHECK constraints at $constraintsPath — refusing " +
              "to proceed as if none exist (fix or remove the file)", e)
        }
      import scala.jdk.CollectionConverters._
      n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue.asText())
        .sortBy(_._1)
    }

  /** Refuse a column drop/rename while a CHECK constraint references
    * the column — the metadata-only commit would succeed and then
    * EVERY subsequent write would die re-analyzing the stored
    * expression against the new schema: an unwritable table with a
    * misleading error. Mirrors the bloom/NDV guard; references come
    * from parsing the stored expression (qualified names take their
    * last part; an unparsable expression conservatively refuses).
    */
  private def requireNoConstraintRefs(column: String, what: String): Unit =
    requireNoConstraintRefs(Seq(column), what, constraintList)

  private def requireNoConstraintRefs(columns: Seq[String], what: String,
      constraints: Seq[(String, String)]): Unit = {
    val lower = columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    // EVERY name part counts, not just the last: a constraint on
    // `meta.quality` references the struct column `meta` — matching
    // only the leaf would let the struct drop and leave the table
    // unwritable. Over-matching (a struct field that happens to share
    // a top-level column's name) only refuses a convenience, never
    // corrupts.
    val referencing = constraints.filter { case (_, e) =>
      try spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.map(_.toLowerCase(java.util.Locale.ROOT))
      }.flatten.exists(lower)
      catch { case NonFatal(_) => true } // can't prove it's unreferenced
    }
    require(referencing.isEmpty,
      s"cannot $what column(s) ${columns.mkString(", ")}: referenced by CHECK " +
        s"constraint(s) ${referencing.map(_._1).mkString(", ")} " +
        "(drop the constraint first)")
  }

  /** One conditional-agg pass over a commit's freshly written files —
    * physical→logical mapped so constraints speak logical names. All
    * constraints ride one job; the first (name-sorted) violated one
    * reports. Throws IllegalArgumentException → commitData's cleanup
    * reclaims the refused files.
    */
  private def validateConstraints(sub: String, storeSchema: StructType,
      carried: Seq[String] = Seq.empty,
      carriedStats: Map[String, JsonNode] = Map.empty): Unit = {
    val cs = constraintList
    if (cs.isEmpty) return
    def projected(paths: Seq[String]): DataFrame =
      spark.read.schema(physicalSchema(storeSchema))
        .parquet(paths: _*)
        .select(storeSchema.fields.toSeq.map(f =>
          col(VersionedTable.physicalName(f)).as(f.name)): _*)
    val logical = projected(Seq(s"$dir/$sub"))
    val checks = cs.filter(c => VersionedTable.uniqueColsOf(c._2).isEmpty)
    if (checks.nonEmpty) {
      val aggs = checks.map { case (n, e) =>
        sum(when(!coalesce(expr(e), lit(false)), 1L).otherwise(0L)).as(s"__ck_$n")
      }
      val row = logical.agg(aggs.head, aggs.tail: _*).head()
      checks.zipWithIndex.foreach { case ((n, e), i) =>
        val bad = if (row.isNullAt(i)) 0L else row.getLong(i) // empty commit
        if (bad > 0) throw new IllegalArgumentException(
          s"CHECK constraint `$n` ($e) violated by $bad row(s); commit refused " +
            "(NULL evaluates as a violation here — de-NULL with coalesce/IS NULL " +
            "in the constraint expression if NULLs should pass)")
      }
    }
    // UNIQUE: fresh-internal duplicates, then fresh × carried overlap
    // pruned by the batch's key range (see addUniqueConstraint for why
    // the two checks are a COMPLETE proof). NULL-keyed rows exempt.
    cs.foreach { case (n, spec) =>
      VersionedTable.uniqueColsOf(spec).foreach { cols =>
        val fresh = logical
          .filter(cols.map(col(_).isNotNull).reduce(_ && _))
        val dup = fresh.groupBy(cols.map(col): _*)
          .agg(count(lit(1)).as("__uq_n")).filter(col("__uq_n") > 1)
          .limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"UNIQUE constraint `$n` (${cols.mkString(", ")}) violated inside " +
            s"the commit: duplicate key ${dup.head.toString}; commit refused")
        if (carried.nonEmpty) {
          val head = cols.head
          val headType = storeSchema(head).dataType
          val b = fresh.agg(min(col(head)), max(col(head))).head()
          if (!b.isNullAt(0)) {
            // a carried file without stats on the column never prunes
            val toScan = carried.filter(f => rangeOverlaps(
              carriedStats.get(f), head, headType, b.get(0), b.get(1)))
            if (toScan.nonEmpty) {
              val paths = toScan.map(f =>
                if (VersionedTable.isExternal(f)) f else s"$dir/$f")
              val hit = projected(paths)
                .filter(cols.map(col(_).isNotNull).reduce(_ && _))
                .join(fresh.select(cols.map(col): _*).distinct(),
                  cols, "left_semi")
                .limit(1).collect()
              if (hit.nonEmpty) throw new IllegalArgumentException(
                s"UNIQUE constraint `$n` (${cols.mkString(", ")}) violated: " +
                  s"key ${hit.head.toString} already exists in the table; " +
                  "commit refused")
            }
          }
        }
      }
    }
  }

  private def ndvConfigPath: Path = logDir.resolve("_ndv")

  /** Opt into per-file HLL (DataSketches) NDV sketches on `columns`:
    * every data file written from now on gets a `<file>.ndv-<col>`
    * sidecar holding a mergeable HllSketch of the column, built
    * inside the same one-pass per-file stats job as min/max and the
    * Bloom filters. Sketches union across files driver-side (a few KB
    * each — metadata scale), so [[approxNdv]] answers "how many
    * distinct values" with NO data scan: per-file exact counts can't
    * compose into a global distinct count, a mergeable sketch is the
    * only O(metadata) answer. `lgK` trades size for error (12 ≈ ±2.5%
    * at ~2.5 KB). Existing files have no sidecars and disable the
    * answer (never corrupt it).
    */
  def enableNdv(columns: Seq[String], lgK: Int = 12): Unit = {
    require(columns.nonEmpty, "enableNdv needs at least one column")
    require(columns.forall(_.matches("[A-Za-z0-9_]+")),
      s"ndv columns must be simple identifiers (they name sidecar files): $columns")
    require(lgK >= 4 && lgK <= 21, s"lgK must be in [4, 21], got $lgK")
    Files.createDirectories(logDir)
    val node = mapper.createObjectNode()
    val arr = node.putArray("columns")
    columns.foreach(arr.add)
    node.put("lgK", lgK)
    atomicReplace(ndvConfigPath, node)
  }

  private def ndvConfig: Option[VersionedTable.NdvConfig] =
    if (!Files.exists(ndvConfigPath)) None
    else
      try {
        val n = mapper.readTree(ndvConfigPath.toFile)
        import scala.jdk.CollectionConverters._
        Some(VersionedTable.NdvConfig(
          n.get("columns").elements().asScala.map(_.asText()).toSeq,
          n.get("lgK").asInt))
      } catch { case NonFatal(_) => None } // torn config: indexes are advisory

  /** Approximate distinct count of `column` from the per-file HLL
    * sidecars alone — answerable only when EVERY file of the snapshot
    * carries one (pre-enablement files disqualify; sound-only).
    */
  def approxNdv(column: String, version: Int = -1): Option[Long] = {
    val cfg = ndvConfig.getOrElse(return None)
    if (!cfg.columns.contains(column)) return None
    val v = if (version == -1) currentVersion else version
    if (v <= 0) return None
    approxNdvOver(column, cfg.lgK, manifestFiles(manifest(v)))
  }

  /** The sidecar-union core, over an already-listed file set — scan()
    * calls this per configured column without re-reading the manifest
    * each time.
    */
  private def approxNdvOver(column: String, lgK: Int,
      files: Seq[String]): Option[Long] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    if (files.isEmpty) return Some(0L)
    val union = new Union(lgK)
    files.foreach { rel =>
      val p = dataFsPath(s"$rel.ndv-$column")
      if (!Files.exists(p)) return None
      union.update(HllSketch.heapify(Files.readAllBytes(p)))
    }
    Some(math.round(union.getResult.getEstimate))
  }

  private def sketchConfigPath: Path = logDir.resolve("_sketch")

  /** Opt into per-file KLL quantile sketches on `kllColumns` (numeric)
    * and Theta distinct-key sketches on `thetaColumns` (integral or
    * string), built inside the SAME one-pass per-file stats job as
    * min/max, Bloom, and NDV — enabling them adds agg columns, not
    * jobs. Each data file written from now on gets `<file>.kll-<col>`
    * / `<file>.theta-<col>` sidecars (KB each — metadata scale).
    *
    * What they buy at 100 TB, with NO data scan:
    *   - KLL sidecars MERGE across any file subset, so
    *     [[approxQuantiles]] (and `table_stats`) answer p50/p95/any-p
    *     over the snapshot — or any time-travel version — from
    *     manifest-adjacent bytes. Per-file min/max cannot compose
    *     into a quantile; a mergeable sketch is the only O(metadata)
    *     answer (the quantile twin of [[approxNdv]]).
    *   - Theta sidecars are closed under SET ALGEBRA, so
    *     [[approxKeyOverlap]] answers "how many distinct keys do two
    *     versions (or two tables) share" — retention/churn between
    *     snapshots — from stored sketches; HLL structurally cannot
    *     intersect.
    *
    * `kllK` (default 200 ≈ 1.65% rank error) and `thetaLgK` (default
    * 12 = exact below 4096 distincts/file) are BUILD-time precision;
    * the merge gadgets reuse them so roll-ups never silently degrade.
    * Existing files have no sidecars and disable the answer (never
    * corrupt it), same contract as bloom/NDV.
    */
  def enableSketch(kllColumns: Seq[String] = Seq.empty,
      thetaColumns: Seq[String] = Seq.empty,
      kllK: Int = 200, thetaLgK: Int = 12): Unit = {
    require(kllColumns.nonEmpty || thetaColumns.nonEmpty,
      "enableSketch needs at least one kll or theta column")
    require((kllColumns ++ thetaColumns).forall(_.matches("[A-Za-z0-9_]+")),
      s"sketch columns must be simple identifiers (they name sidecar files): " +
        s"${kllColumns ++ thetaColumns}")
    require(kllK >= 8 && kllK <= 65535, s"kll k must be in [8, 65535], got $kllK")
    require(thetaLgK >= 4 && thetaLgK <= 26,
      s"theta lgK must be in [4, 26], got $thetaLgK")
    Files.createDirectories(logDir)
    val node = mapper.createObjectNode()
    val ka = node.putArray("kll")
    kllColumns.foreach(ka.add)
    val ta = node.putArray("theta")
    thetaColumns.foreach(ta.add)
    node.put("kllK", kllK)
    node.put("thetaLgK", thetaLgK)
    atomicReplace(sketchConfigPath, node)
  }

  private def sketchConfig: Option[VersionedTable.SketchConfig] =
    if (!Files.exists(sketchConfigPath)) None
    else
      try {
        val n = mapper.readTree(sketchConfigPath.toFile)
        import scala.jdk.CollectionConverters._
        Some(VersionedTable.SketchConfig(
          n.get("kll").elements().asScala.map(_.asText()).toSeq,
          n.get("theta").elements().asScala.map(_.asText()).toSeq,
          n.get("kllK").asInt, n.get("thetaLgK").asInt))
      } catch { case NonFatal(_) => None } // torn config: indexes are advisory

  /** The merged KLL sketch of `column` over a file set — answerable
    * only when EVERY file carries a sidecar (pre-enablement files
    * disqualify; sound-only). The merge buffer uses the BUILD k, so
    * the roll-up never degrades the stored precision.
    */
  private def kllMergedOver(column: String, k: Int,
      files: Seq[String]): Option[org.apache.datasketches.kll.KllDoublesSketch] = {
    import org.apache.datasketches.kll.KllDoublesSketch
    val merged = KllDoublesSketch.newHeapInstance(k)
    files.foreach { rel =>
      val p = dataFsPath(s"$rel.kll-$column")
      if (!Files.exists(p)) return None
      merged.merge(KllDoublesSketch.heapify(
        org.apache.datasketches.memory.Memory.wrap(Files.readAllBytes(p))))
    }
    Some(merged)
  }

  /** Approximate quantiles of `column` at `ps`, from the per-file KLL
    * sidecars alone — zero data scan, any committed version. None when
    * the column isn't sketch-indexed, any snapshot file predates
    * enablement, or the snapshot holds no non-null values.
    */
  def approxQuantiles(column: String, ps: Seq[Double],
      version: Int = -1): Option[Seq[Double]] = {
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"quantiles must be in [0,1]: $ps")
    val cfg = sketchConfig.getOrElse(return None)
    if (!cfg.kll.contains(column)) return None
    val v = if (version == -1) currentVersion else version
    if (v <= 0) return None
    kllMergedOver(column, cfg.kllK, manifestFiles(manifest(v)))
      .filter(!_.isEmpty)
      .map(sk => ps.map(p => sk.getQuantile(p,
        org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE)))
  }

  def approxQuantile(column: String, p: Double, version: Int = -1): Option[Double] =
    approxQuantiles(column, Seq(p), version).map(_.head)

  /** The unioned Theta sketch (compact bytes) of `column` over
    * snapshot `version` — the distinct-key summary other sketches can
    * intersect/union/diff against. None under the same coverage rules
    * as [[approxQuantiles]].
    */
  def thetaSketch(column: String, version: Int = -1): Option[Array[Byte]] = {
    val cfg = sketchConfig.getOrElse(return None)
    if (!cfg.theta.contains(column)) return None
    val v = if (version == -1) currentVersion else version
    if (v <= 0) return None
    import org.apache.datasketches.theta.{SetOperation, Sketches}
    val u = SetOperation.builder().setNominalEntries(1 << cfg.thetaLgK).buildUnion()
    manifestFiles(manifest(v)).foreach { rel =>
      val p = dataFsPath(s"$rel.theta-$column")
      if (!Files.exists(p)) return None
      u.union(Sketches.wrapCompactSketch(
        org.apache.datasketches.memory.Memory.wrap(Files.readAllBytes(p))))
    }
    Some(u.getResult.toByteArray)
  }

  /** Approximate number of distinct `column` keys PRESENT IN BOTH
    * snapshots — version `v1` of this table vs `v2` of `other`
    * (defaults: this table's head vs the same table's head, so
    * `approxKeyOverlap("user_id", v1 = 3)` is retention between
    * version 3 and now). Computed by intersecting the two unioned
    * Theta sketches: zero data scan, the set operation HLL sidecars
    * structurally cannot do. None when either side lacks coverage.
    */
  def approxKeyOverlap(column: String, v1: Int = -1,
      other: VersionedTable = this, v2: Int = -1): Option[Long] =
    for {
      a <- thetaSketch(column, v1)
      b <- other.thetaSketch(column, v2)
    } yield {
      import org.apache.datasketches.memory.Memory
      import org.apache.datasketches.theta.{SetOperation, Sketches}
      val i = SetOperation.builder().buildIntersection()
      i.intersect(Sketches.wrapCompactSketch(Memory.wrap(a)))
      i.intersect(Sketches.wrapCompactSketch(Memory.wrap(b)))
      math.round(i.getResult.getEstimate)
    }

  private def bloomConfig: Option[VersionedTable.BloomConfig] =
    if (!Files.exists(bloomConfigPath)) None
    else
      try {
        val n = mapper.readTree(bloomConfigPath.toFile)
        import scala.jdk.CollectionConverters._
        Some(VersionedTable.BloomConfig(
          n.get("columns").elements().asScala.map(_.asText()).toSeq,
          n.get("expected").asLong, n.get("fpp").asDouble))
      } catch { case NonFatal(_) => None } // torn config: indexes are advisory

  /** Sidecar filter bytes for (file, column), if the writer built one.
    * Absence — pre-enablement file, non-bloom column — answers None →
    * the caller must treat the file as possibly-matching.
    */
  private def bloomFor(rel: String, column: String): Option[Array[Byte]] = {
    val p = dataFsPath(s"$rel.bloom-$column")
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  /** Could this file contain ANY of the probed key hashes? Missing or
    * undersized sidecars answer true (never prune on absence).
    */
  private def bloomMayContainAny(rel: String, column: String,
      hashes: Array[Long]): Boolean =
    bloomFor(rel, column) match {
      case Some(blob) if blob.length > 4 =>
        hashes.exists(graft.functions.HashImpl.bloomContains(blob, _))
      case _ => true
    }

  /** Does file `f` survive a point-set probe on `column`? The probe
    * hash set is selected by the FILE's sidecar build type (stats key
    * `__bt_<column>`, default: the current committed type), so a
    * filter built before a type widening is probed with its own
    * era's hashes. An EMPTY hash set refutes without touching the
    * sidecar: none of the probed values is representable in the
    * file's value type, so no row can match. Unknown build tags (and
    * probes [[probeHashes]] couldn't classify) admit.
    */
  private def bloomAdmits(f: String, column: String, defaultTag: String,
      byTag: Map[String, Array[Long]], stats: Map[String, JsonNode]): Boolean = {
    val tag = stats.get(f).flatMap(n => Option(n.get(s"__bt_$column")))
      .map(_.asText).getOrElse(defaultTag)
    byTag.get(tag) match {
      case Some(hs) if hs.isEmpty => false
      case Some(hs)               => bloomMayContainAny(f, column, hs)
      case None                   => true
    }
  }

  /** Latest committed version, 0 if the table is empty. With a
    * checkpoint pointer present this probes forward from the
    * checkpointed version — never a full log listing; without one
    * (young table, or the pointer's manifest was vacuumed away) it
    * falls back to listing.
    */
  def currentVersion: Int = {
    val ckpt = lastCheckpointVersion
    if (ckpt > 0 && Files.exists(manifestPath(ckpt))) {
      var v = ckpt
      while (Files.exists(manifestPath(v + 1))) v += 1
      v
    } else {
      val vs = listVersions()
      if (vs.isEmpty) 0 else vs.max
    }
  }

  private def lastCheckpointVersion: Int =
    if (!Files.exists(pointerPath)) 0
    else
      // a torn/illegible pointer is advisory only — fall back to listing
      try mapper.readTree(pointerPath.toFile).path("version").asInt(0)
      catch { case NonFatal(_) => 0 }

  private def listVersions(): Seq[Int] = {
    if (!Files.isDirectory(logDir)) return Seq.empty
    val s = Files.list(logDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.stripPrefix("v").stripSuffix(".json").toInt).toSeq
    } finally s.close()
  }

  private def manifest(version: Int): JsonNode =
    mapper.readTree(manifestPath(version).toFile)

  private def manifestFiles(m: JsonNode): Seq[String] = {
    import scala.jdk.CollectionConverters._
    m.get("files").elements().asScala.map(_.asText()).toSeq
  }

  private def manifestStats(m: JsonNode): Map[String, JsonNode] = {
    val s = m.get("stats")
    if (s == null) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      s.properties().asScala.map(e => e.getKey -> e.getValue).toMap
    }
  }

  /** Relative change-file paths a rewriting commit recorded, or None
    * for a commit written without change tracking (pre-CDF writer, or
    * the table wasn't enabled yet) — None and empty differ: empty
    * means "tracked, zero changes", None means "unknowable, resync".
    */
  private def manifestCdf(m: JsonNode): Option[Seq[String]] =
    Option(m.get("cdf")).map { arr =>
      import scala.jdk.CollectionConverters._
      arr.elements().asScala.map(_.asText()).toSeq
    }

  /** A manifest node's string-array entries ([] when absent). */
  private def stringsOf(m: JsonNode, field: String): Seq[String] =
    Option(m.get(field)).map { arr =>
      import scala.jdk.CollectionConverters._
      arr.elements().asScala.map(_.asText()).toSeq
    }.getOrElse(Seq.empty)

  /** Physical storage names of DROPPED columns — never reusable. */
  private def retiredOf(m: JsonNode): Seq[String] = stringsOf(m, "retired")

  /** Source-file identities COPY INTO has already loaded. */
  private def copiedOf(m: JsonNode): Seq[String] = stringsOf(m, "copied")

  /** The exact relative file paths of a committed version (spec hook:
    * proves carried files keep their paths across a pruned MERGE).
    */
  private[graft] def fileList(version: Int): Seq[String] =
    manifestFiles(manifest(version))

  /** A committed version's recorded operation, None when its manifest
    * is unreadable or vacuumed away (provenance unknowable).
    */
  private[graft] def commitOp(version: Int): Option[String] =
    try Some(manifest(version).path("op").asText(""))
    catch { case NonFatal(_) => None }

  /** Snapshot read. `version = -1` reads the latest commit; any
    * earlier version stays readable (time travel) because data files
    * are immutable and manifests are never rewritten. An empty
    * snapshot (e.g. overwrite with zero rows) reads back as an empty
    * DataFrame with the committed schema.
    */
  def read(version: Int = -1): DataFrame = {
    val v = if (version == -1) currentVersion else version
    require(v > 0, s"table at $dir has no committed version${if (version > 0) s" $version" else ""}")
    val m = manifest(v)
    val rels = manifestFiles(m)
    if (rels.nonEmpty) readFiles(m, rels) else emptySnapshot(m)
  }

  /** The newest committed version whose commit wall time is ≤
    * `tsMillis` (Delta's TIMESTAMP AS OF resolution). Walks newest →
    * oldest, so out-of-order clock stamps (two writers, clock skew)
    * resolve to the newest qualifying commit — best-effort by nature,
    * exactly like Delta's. Fails when `tsMillis` predates the oldest
    * retained commit (or the history below is vacuumed away) — an
    * explicit error beats silently serving the wrong era. Manifests
    * written before timestamps existed end the walk the same way.
    */
  def versionAt(tsMillis: Long): Int = {
    var v = currentVersion
    require(v > 0, s"table at $dir has no committed version")
    while (v > 0) {
      val ts =
        try {
          val m = manifest(v)
          if (m.has("ts")) Some(m.get("ts").asLong) else None
        } catch {
          case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
            None // below the vacuum horizon
        }
      ts match {
        case Some(t) if t <= tsMillis => return v
        case Some(_)                  => v -= 1
        case None =>
          throw new IllegalArgumentException(
            s"timestamp $tsMillis predates the retained history of $dir " +
              "(vacuumed or pre-timestamp commits); earliest readable version is " +
              s"${v + 1}")
      }
    }
    throw new IllegalArgumentException(
      s"timestamp $tsMillis predates every commit of $dir")
  }

  /** TIMESTAMP AS OF read: the snapshot as of a wall-clock instant. */
  def readAsOf(tsMillis: Long): DataFrame = read(versionAt(tsMillis))

  /** Snapshot read with file-level data skipping: the result is
    * always ≡ `read(version).where(predicate)`, but files whose
    * committed `[min,max,hasNulls]` stats prove no row can satisfy the
    * predicate's simple conjuncts (`=  <  <=  >  >=` against a
    * literal, BETWEEN, IS NULL — see [[DataSkipping]]) are never
    * opened. With files kept range-clustered (`compact(clusterBy=…)`
    * or range-partitioned appends) a selective predicate over the
    * cluster column opens O(matching) files out of the whole table —
    * on a 100 TB table the difference between a point lookup and a
    * full scan. Unrecognized conjuncts or literal/column type
    * mismatches prune nothing, and the FULL predicate is re-applied
    * to every scanned row, so skipping only ever removes
    * provably-dead IO.
    */
  def readWhere(predicate: Column, version: Int = -1): DataFrame =
    prunedScan(org.apache.spark.sql.GraftColumnBridge.expression(predicate), version)
      .where(predicate)

  /** The skipping core of [[readWhere]], predicate as a raw Catalyst
    * expression tree (unresolved Column DSL shapes AND resolved
    * post-analysis trees — [[DataSkipping]] matches both): the
    * snapshot scan over only the files `pred` might touch. The
    * predicate is NOT re-applied here — [[readWhere]] layers it via
    * `.where`, and the lazy-scan optimizer rule
    * ([[graft.plans.VTableScanRule]]) re-attaches it as a remapped
    * Filter node in place.
    */
  private[graft] def prunedScan(pred: org.apache.spark.sql.catalyst.expressions.Expression,
      version: Int = -1): DataFrame = {
    val v = if (version == -1) currentVersion else version
    require(v > 0, s"table at $dir has no committed version${if (version > 0) s" $version" else ""}")
    val m = manifest(v)
    val stats = manifestStats(m)
    val schema = Option(m.get("schema"))
      .map(s => DataType.fromJson(s.asText()).asInstanceOf[StructType])
    val cons = DataSkipping.constraints(pred)
    // bloom refinement for point lookups (`col === x` on an indexed
    // column): each equality/IN literal is hashed driver-side with
    // the SAME xxhash64 the sidecar build ran — once per sidecar
    // BUILD TYPE present in the snapshot, so files written before a
    // type widening are probed with their own era's hashes — and
    // files whose filter refutes any required point are never opened,
    // the uuid-key case where every file's [min,max] range spans the
    // domain and range skipping is powerless
    val ptProbes: Seq[(String, String, Map[String, Array[Long]])] = {
      val indexed = bloomConfig.map(_.columns.toSet).getOrElse(Set.empty[String])
      val pts =
        if (indexed.isEmpty) Seq.empty
        else DataSkipping.pointSets(cons, schema).filter(p => indexed(p._1))
      pts.map { case (c, vs, dt) =>
        val defaultTag = VersionedTable.typeTag(dt)
        val tags = stats.valuesIterator
          .flatMap(n => Option(n.get(s"__bt_$c")).map(_.asText)).toSet + defaultTag
        // a tag absent from the map admits (unknown build type)
        val byTag = tags.iterator.flatMap { tag =>
          VersionedTable.tagType(tag)
            .flatMap(bt => VersionedTable.probeHashes(vs, bt)).map(tag -> _)
        }.toMap
        (c, defaultTag, byTag)
      }
    }
    val keep = manifestFiles(m)
      .filter(f => DataSkipping.mayMatch(stats.get(f), schema, cons) &&
        ptProbes.forall { case (c, defaultTag, byTag) =>
          bloomAdmits(f, c, defaultTag, byTag, stats) })
    if (keep.nonEmpty) readFiles(m, keep)
    else emptySnapshot(m)
  }

  /** Lazy snapshot scan: a DataFrame whose leaf is a
    * [[graft.plans.VTableRelation]] marker that the injected optimizer
    * rule collapses into a stats+bloom-pruned file scan once
    * Catalyst's own pushdown has parked the query's filters against
    * it — automatic [[readWhere]] for SQL/temp-view consumers who
    * never see this class. Version pins at CALL time (same snapshot
    * isolation as `read`); size stats come from the manifest's file
    * set so join planning sees the true table bytes. Installs the
    * rule and the bare-marker fallback strategy into the session's
    * runtime hooks on first use (config-built sessions already carry
    * both via GraftExtensions).
    */
  def scan(version: Int = -1): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val v = if (version == -1) currentVersion else version
    require(v > 0, s"table at $dir has no committed version${if (version > 0) s" $version" else ""}")
    val m = manifest(v)
    val st = Option(m.get("schema"))
      .map(s => DataType.fromJson(s.asText()).asInstanceOf[StructType])
      .filter(_.fields.nonEmpty)
      .getOrElse(readFiles(m, manifestFiles(m)).schema)
    val files = manifestFiles(m)
    // exact snapshot cardinality from the per-file "_rows" stats —
    // known only when EVERY file carries one (pre-rows manifests and
    // raw-path commits answer None, disabling the metadata fast paths)
    val stats = manifestStats(m)
    val perFile = files.map(f => stats.get(f)
      .flatMap(n => Option(n.get("_rows"))).filter(_.isNumber).map(_.asLong))
    val rows: Option[BigInt] =
      if (files.isEmpty) Some(BigInt(0))
      else if (perFile.forall(_.isDefined)) Some(BigInt(perFile.flatten.sum))
      else None
    // exact per-column global [min,max] where EVERY file carries a
    // numeric stats entry — the metadata MIN/MAX answer. Strings are
    // excluded on principle (a truncated min prefix is a sound BOUND
    // for pruning but is not the actual minimum, and the manifest
    // cannot distinguish truncated from exact); a NaN-carrying or
    // all-null file records no entry and disqualifies its column.
    val bounds: Map[String, (Any, Any)] = st.fields.iterator.flatMap { f =>
      def num(n: JsonNode): Option[Any] = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType
             if n.isIntegralNumber => Some(n.asLong)
        case DoubleType | FloatType if n.isNumber => Some(n.asDouble)
        case _ => None
      }
      val perF = files.map(f0 => stats.get(f0)
        .flatMap(nd => Option(nd.get(f.name))).filter(_.isArray)
        .filter(_.size() >= 2)
        .flatMap(a => for { lo <- num(a.get(0)); hi <- num(a.get(1)) } yield (lo, hi)))
      if (files.nonEmpty && perF.forall(_.isDefined)) {
        val los = perF.flatten.map(_._1)
        val his = perF.flatten.map(_._2)
        val (lo, hi) = f.dataType match {
          case DoubleType | FloatType =>
            (los.map(_.asInstanceOf[Double]).min: Any,
             his.map(_.asInstanceOf[Double]).max: Any)
          case _ =>
            (los.map(_.asInstanceOf[Long]).min: Any,
             his.map(_.asInstanceOf[Long]).max: Any)
        }
        Some(f.name -> ((lo, hi)))
      } else None
    }.toMap
    // exact per-column non-null counts (COUNT(col) metadata answer):
    // the 4th stats element, where every file carries it. Unlike
    // `bounds`, strings qualify too — a count needs no value fidelity.
    val nonNulls: Map[String, Long] = st.fields.iterator.flatMap { f =>
      val perF = files.map(f0 => stats.get(f0)
        .flatMap(nd => Option(nd.get(f.name))).filter(_.isArray)
        .filter(_.size() >= 4).map(_.get(3)).filter(_.isIntegralNumber)
        .map(_.asLong))
      if (files.nonEmpty && perF.forall(_.isDefined))
        Some(f.name -> perF.flatten.sum)
      else None
    }.toMap
    val attrs = st.map(f =>
      AttributeReference(f.name, f.dataType, nullable = true)())
    spark.experimental.synchronized {
      if (!spark.experimental.extraOptimizations.contains(graft.plans.VTableScanRule(spark)))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.VTableScanRule(spark)
      if (!spark.experimental.extraStrategies.contains(graft.plans.VTableScanStrategy(spark)))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ graft.plans.VTableScanStrategy(spark)
    }
    // the per-file driver IO — Files.size of every data file and the
    // NDV sidecar reads for every configured column — memoized per
    // (dir, version, ndv-config): a committed version's file set is
    // immutable, so repeated scan()s, describeJson calls, and view
    // re-registrations pay the O(files) walk ONCE instead of on every
    // call. The ndv columns key the memo so enableNdv() between scans
    // can't serve a stale column set.
    val cfg = ndvConfig
    val skCfg = sketchConfig
    val meta = VersionedTable.scanMeta.getOrBuild(
      (dir, v, cfg.map(_.columns).getOrElse(Nil),
        skCfg.map(_.kll).getOrElse(Nil))) {
      val bytes = files.map { rel =>
        try Files.size(dataFsPath(rel)) catch { case _: java.io.IOException => 0L }
      }.sum
      val ndv: Map[String, Long] = cfg.toSeq.flatMap(c0 =>
        c0.columns.filter(st.fieldNames.contains)
          .flatMap(c => approxNdvOver(c, c0.lgK, files).map(c -> _))).toMap
      // equi-height histograms from the KLL sidecars — CBO's
      // FilterEstimation consumes ColumnStat.histogram whenever
      // present, so covered columns get ANALYZE-grade range/equality
      // selectivity with zero data scan and no ANALYZE. Attached only
      // when the NDV sidecar covers the column too: each bin carries
      // a per-bin distinct estimate (global ndv spread uniformly, the
      // standard approximation), and inventing one from row counts
      // would mis-estimate equality selectivity on low-cardinality
      // columns.
      import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin}
      val nBins = 64
      val hist: Map[String, Histogram] = skCfg.toSeq.flatMap { sc =>
        sc.kll.filter(c => ndv.contains(c) && st.fields.exists(f =>
            f.name == c &&
            f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
          .flatMap { c =>
            kllMergedOver(c, sc.kllK, files).filter(!_.isEmpty).map { sk =>
              val qs = (0 to nBins).map(i => sk.getQuantile(i.toDouble / nBins,
                org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE))
              val perBinNdv = math.max(ndv(c) / nBins, 1L)
              c -> Histogram(sk.getN.toDouble / nBins,
                (0 until nBins).map(i => HistogramBin(qs(i), qs(i + 1), perBinNdv)).toArray)
            }
          }
      }.toMap
      VersionedTable.ScanMeta(bytes, ndv, hist)
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      graft.plans.VTableRelation(dir, v, BigInt(meta.bytes.max(1L)), rows, bounds,
        nonNulls, meta.ndv, meta.hist, attrs))
  }

  /** DESCRIBE DETAIL as one O(metadata) JSON document: schema plus the
    * commit manifest's exact row count, per-column non-null counts and
    * numeric [min,max] — everything the lazy scan's metadata fast
    * paths know, with no data file opened. Fields appear only when the
    * manifest can actually answer them (pre-stats manifests yield the
    * schema alone). The O(1) complement to the scanning `/profile`;
    * over SQL the same facts are DESCRIBE DETAIL plus `table_stats`.
    */
  def describeJson(version: Int = -1): String = {
    val rel = scan(version).queryExecution.logical.collectFirst {
      case r: graft.plans.VTableRelation => r
    }.getOrElse(throw new IllegalStateException(s"scan of $dir lost its relation"))
    val node = mapper.createObjectNode()
    node.put("path", dir)
    node.put("version", rel.version)
    rel.rows.foreach { r => node.put("rows", r.toLong); () }
    node.put("size_bytes", rel.sizeBytes.toLong)
    node.put("files", manifestFiles(manifest(rel.version)).size)
    node.put("cdf_enabled", cdfEnabled)
    val consNode = node.putArray("constraints")
    constraintList.foreach { case (n, e) =>
      val c = mapper.createObjectNode()
      c.put("name", n); c.put("check", e)
      consNode.add(c); ()
    }
    val cols = node.putArray("columns")
    // per-column KLL quantiles from the sketch sidecars — describe
    // gains p50/p95 with zero data scan when coverage holds (the
    // quantile complement of ndv_approx). One merged sketch per
    // covered column, reused for both quantiles.
    val skCfg = sketchConfig
    rel.output.foreach { a =>
      val c = mapper.createObjectNode()
      c.put("name", a.name)
      c.put("type", a.dataType.simpleString)
      rel.nonNulls.get(a.name).foreach { n => c.put("non_null", n); () }
      rel.bounds.get(a.name).foreach { case (lo, hi) =>
        c.put("min", lo.toString); c.put("max", hi.toString); ()
      }
      rel.ndv.get(a.name).foreach { n => c.put("ndv_approx", n); () }
      if (skCfg.exists(_.kll.contains(a.name)))
        approxQuantiles(a.name, Seq(0.5, 0.95), rel.version).foreach { qs =>
          c.put("p50_approx", qs(0)); c.put("p95_approx", qs(1)); ()
        }
      cols.add(c)
      ()
    }
    mapper.writeValueAsString(node)
  }

  /** Metadata-only column profile in [[graft.operators.Profile]]'s
    * exact shape — (col_name, n_rows, n_nulls, n_distinct, min_val,
    * max_val), one row per column — when the manifest and NDV
    * sidecars COVER it: exact row and null counts from the per-file
    * stats, approximate distincts from the HLL sidecars, min/max
    * exact for numeric columns (string bounds may be truncated in the
    * manifest — withheld as null rather than served wrong). Answers
    * None when any column lacks null-count or NDV coverage, so the
    * caller can fall back to the scanning profile; on a covered
    * 100 TB table this turns /profile from a full scan into a
    * driver-side metadata read.
    */
  def profileFromMetadata(version: Int = -1): Option[DataFrame] = {
    val v = if (version == -1) currentVersion else version
    if (v <= 0) return None
    val rel = scan(v).queryExecution.logical.collectFirst {
      case r: graft.plans.VTableRelation => r
    }.getOrElse(return None)
    val rows = rel.rows.getOrElse(return None).toLong
    val entries = rel.output.map { a =>
      val nn = rel.nonNulls.get(a.name).getOrElse(return None)
      val ndv = rel.ndv.get(a.name).getOrElse(return None)
      val (mn, mx) = rel.bounds.get(a.name) match {
        case Some((lo, hi)) => (lo.toString, hi.toString)
        case None           => (null: String, null: String)
      }
      Row(a.name, rows, rows - nn, ndv, mn, mx)
    }.sortBy(_.getString(0))
    val schema = StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_nulls", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("min_val", StringType, nullable = true),
      StructField("max_val", StringType, nullable = true)))
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(entries, 1), schema))
  }

  /** O(metadata) per-column statistics as a DataFrame — the
    * SQL-facing superset of [[profileFromMetadata]]: best-effort PER
    * COLUMN (null where the manifest or sidecars can't answer)
    * instead of all-or-nothing, plus KLL p50/p95 where sketch
    * sidecars cover. Served as `SELECT * FROM table_stats('t')` via
    * the registered table function; no data file is opened.
    */
  def statsTable(version: Int = -1): DataFrame = {
    val v = if (version == -1) currentVersion else version
    require(v > 0, s"table at $dir has no committed version")
    val rel = scan(v).queryExecution.logical.collectFirst {
      case r: graft.plans.VTableRelation => r
    }.getOrElse(throw new IllegalStateException(s"scan of $dir lost its relation"))
    val rows = rel.rows.map(_.toLong)
    val skCfg = sketchConfig
    val entries = rel.output.map { a =>
      val nulls = for { r <- rows; n <- rel.nonNulls.get(a.name) } yield r - n
      val (mn, mx) = rel.bounds.get(a.name) match {
        case Some((lo, hi)) => (lo.toString, hi.toString)
        case None           => (null: String, null: String)
      }
      val qs =
        if (skCfg.exists(_.kll.contains(a.name)))
          approxQuantiles(a.name, Seq(0.5, 0.95), v)
        else None
      Row(a.name, rows.map(Long.box).orNull, nulls.map(Long.box).orNull,
        rel.ndv.get(a.name).map(Long.box).orNull, mn, mx,
        qs.map(q => Double.box(q.head)).orNull,
        qs.map(q => Double.box(q(1))).orNull)
    }.sortBy(_.getString(0))
    val schema = StructType(Seq(
      StructField("col_name", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = true),
      StructField("n_nulls", LongType, nullable = true),
      StructField("n_distinct", LongType, nullable = true),
      StructField("min_val", StringType, nullable = true),
      StructField("max_val", StringType, nullable = true),
      StructField("p50_approx", DoubleType, nullable = true),
      StructField("p95_approx", DoubleType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(entries, 1), schema)
  }

  /** Any column whose logical name differs from its stored name? */
  private def hasMapping(st: StructType): Boolean =
    st.fields.exists(f => VersionedTable.physicalName(f) != f.name)

  /** The schema as parquet files store it: physical names, no
    * mapping metadata (files know nothing about renames).
    */
  private def physicalSchema(st: StructType): StructType =
    StructType(st.fields.map(f =>
      f.copy(name = VersionedTable.physicalName(f),
        metadata = org.apache.spark.sql.types.Metadata.empty)))

  /** Rename a logical frame's data columns to their physical names
    * for writing; `extra` columns (the CDF tag) pass through.
    */
  private def toPhysical(df: DataFrame, st: StructType,
      extra: Seq[String] = Seq.empty): DataFrame =
    if (!hasMapping(st)) df
    else df.select(st.fields.toSeq.map(f =>
      col(f.name).as(VersionedTable.physicalName(f))) ++ extra.map(col): _*)

  /** Read a manifest's data files WITH its committed schema pinned:
    * the scan never samples parquet footers, so a table whose files
    * predate an additive schema evolution reads back uniformly (old
    * files yield null for the added columns), and each time-travel
    * version keeps its own column set. Renamed columns read through
    * their PHYSICAL names (stable across renames — files are never
    * rewritten) and surface under the manifest's logical names.
    * Manifests without a schema (raw commit path) fall back to
    * footer inference.
    */
  /** Resolve a manifest file entry to a filesystem path. Entries are
    * normally relative to the table dir; a SHALLOW CLONE (cloneTo)
    * commits the source's files under their ABSOLUTE paths
    * (zero-copy) — those resolve as-is and are never owned: vacuum
    * skips them, COW rewrites drop the reference and write local
    * replacement files, and sidecar lookups read next to the source
    * file, exactly where its writer put them.
    */
  private def dataPath(rel: String): String =
    if (VersionedTable.isExternal(rel)) rel else s"$dir/$rel"

  private def dataFsPath(rel: String): Path =
    if (VersionedTable.isExternal(rel)) Paths.get(rel) else Paths.get(dir, rel)

  private def readFiles(m: JsonNode, rels: Seq[String]): DataFrame = {
    val paths = rels.map(dataPath)
    Option(m.get("schema"))
      .map(s => DataType.fromJson(s.asText()).asInstanceOf[StructType])
      .filter(_.fields.nonEmpty) match {
      case Some(st) if hasMapping(st) =>
        spark.read.schema(physicalSchema(st)).parquet(paths: _*)
          .select(st.fields.toSeq.map(f =>
            col(VersionedTable.physicalName(f)).as(f.name)): _*)
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None     => spark.read.parquet(paths: _*)
    }
  }

  /** Zero-row frame carrying a manifest's committed schema. */
  private def emptySnapshot(m: JsonNode): DataFrame = {
    val s = m.get("schema")
    require(s != null, s"manifest of $dir carries no schema for an empty snapshot")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      DataType.fromJson(s.asText()).asInstanceOf[StructType])
  }

  /** Write `df`'s rows as new immutable files under a per-commit uuid
    * directory (uncommitted writes never collide and are invisible to
    * readers); returns (subdir, relative file paths).
    */
  private def writeFiles(df: DataFrame, prefix: String = "files"): (String, Seq[String]) = {
    val sub = s"$prefix-${java.util.UUID.randomUUID().toString.take(8)}"
    // a failed write job (executor error, upsert's null-key raise_error
    // firing mid-write, a kill) must not orphan its partial output:
    // only the commit-conflict path cleaned up before, so every other
    // failure grew the table directory forever — vacuum can't reclaim
    // files no manifest ever referenced
    try df.write.parquet(s"$dir/$sub")
    catch {
      case scala.util.control.NonFatal(e) =>
        try deleteTree(Paths.get(dir, sub))
        catch { case scala.util.control.NonFatal(_) => () } // best-effort; the write error wins
        throw e
    }
    val s = Files.list(Paths.get(dir, sub))
    try {
      import scala.jdk.CollectionConverters._
      (sub, s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).map(n => s"$sub/$n").toSeq.sorted)
    } finally s.close()
  }

  /** Columns whose min/max are recorded per file: the atomic types
    * with an unambiguous total order shared by Spark and the JSON
    * manifest encoding. Anything else simply gets no stats (→ merge
    * treats its files as always-touched, never incorrectly pruned).
    */
  private def statFields(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => f.dataType match {
      case LongType | IntegerType | ShortType | ByteType
           | DoubleType | FloatType | StringType => true
      case _ => false
    })

  /** One column's manifest stats entry `[min, max, hasNulls, nn?]`,
    * shared by the aggregation and footer stats paths so both agree
    * on the NaN guard and the wide-string truncation contract (min →
    * sound prefix bound, over-long max → null = +unbounded). `nn`
    * absent writes a 3-element entry — readers treat the missing
    * non-null count conservatively (COUNT(col) not metadata-
    * answerable), which only pre-stats manifests used to produce.
    */
  private def putStatEntry(node: com.fasterxml.jackson.databind.node.ObjectNode,
      f: StructField, lo: Any, hi: Any, hasNulls: Boolean, nn: Option[Long]): Unit = {
    def isNaN(x: Any): Boolean = x match {
      case v: Double => v.isNaN; case v: Float => v.isNaN; case _ => false
    }
    if (lo == null || hi == null || isNaN(lo) || isNaN(hi)) return
    val a = node.putArray(f.name)
    def add(x: Any, isMax: Boolean): Unit = x match {
      case v: Long    => a.add(v); ()
      case v: Int     => a.add(v); ()
      case v: Short   => a.add(v.toInt); ()
      case v: Byte    => a.add(v.toInt); ()
      case v: Double  => a.add(v); ()
      case v: Float   => a.add(v.toDouble); () // exact widening
      case v: String  =>
        // wide text columns (document bodies) must not embed full
        // values in every manifest. A truncated min PREFIX is still a
        // sound lower bound; a truncated max is NOT a sound upper
        // bound (successor-bumping is unsound above the BMP in UTF-8
        // order), so an over-long max is stored as null = +unbounded —
        // half the pruning power, zero manifest bloat, never unsound.
        if (v.length <= StatStringMax) { a.add(v); () }
        else if (isMax) { a.addNull(); () }
        else { a.add(v.substring(0, StatStringMax)); () }
      case _          => ()
    }
    add(lo, isMax = false)
    add(hi, isMax = true)
    a.add(hasNulls)
    nn.foreach { v => a.add(v); () }
    ()
  }

  /** Per-file stats of the freshly written files. Two sources, same
    * manifest contract:
    *   - no value-level index configured → [[footerStats]]: the
    *     parquet footers the write ALREADY produced carry min/max,
    *     null counts and row counts — O(files) driver metadata reads,
    *     no second pass over the data. This keeps commit cost at one
    *     write job for plain tables (the common case).
    *   - bloom/NDV/KLL/theta sidecars enabled → [[aggStats]]: those
    *     need a real aggregation over the values, and min/max ride
    *     along in the same one-pass job as before.
    */
  private def freshStats(sub: String, rels: Seq[String], schema: StructType)
      : Map[String, JsonNode] =
    if (bloomConfig.isEmpty && ndvConfig.isEmpty && sketchConfig.isEmpty)
      footerStats(rels, schema)
    else aggStats(sub, rels, schema)

  /** Footer-derived per-file stats: trust boundary is narrow by
    * construction — these files were written by THIS engine moments
    * ago (Spark's parquet-mr ≥ 1.13: unsigned binary order, untrun-
    * cated chunk statistics, stats > 4 KB dropped whole), so the
    * footer numbers are authoritative. Guards stay anyway: a chunk
    * that carries values but no stats (or can't prove itself
    * all-null) drops the column's entry; string bounds must survive a
    * UTF-8 byte round-trip (a truncated/patched binary bound that
    * doesn't decode losslessly could reorder); NaN-poisoned and
    * signed-zero float bounds are dropped/widened to keep the
    * manifest's total-order contract.
    */
  private def footerStats(rels: Seq[String], schema: StructType)
      : Map[String, JsonNode] = {
    import scala.jdk.CollectionConverters._
    if (rels.isEmpty) return Map.empty
    val fields = statFields(schema)
    val conf = spark.sessionState.newHadoopConf()
    rels.map { rel =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/$rel"), conf))
      val node = try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val total = blocks.map(_.getRowCount).sum
        val n = mapper.createObjectNode()
        fields.foreach { f =>
          footerColumn(blocks, f).foreach { case (lo, hi, hasNulls, nn) =>
            putStatEntry(n, f, lo, hi, hasNulls, nn.map(total - _))
          }
        }
        // LAST so a user column literally named "_rows" loses its
        // min/max entry rather than corrupting the count (same
        // ordering contract as the agg path)
        n.put("_rows", total)
        n
      } finally reader.close()
      rel -> (node: JsonNode)
    }.toMap
  }

  /** One column's merged footer bounds across a file's row groups:
    * (min, max, hasNulls, numNulls?) in the same JVM domain the agg
    * path produces, or None when the footers can't PROVE a sound
    * entry (missing chunk, statless chunk with values, all-null
    * column, NaN bounds, non-roundtripping string bounds).
    */
  private def footerColumn(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      f: StructField): Option[(Any, Any, Boolean, Option[Long])] = {
    import scala.jdk.CollectionConverters._
    val paired = blocks.map { b =>
      b -> b.getColumns.asScala.find(c =>
        c.getPath.size == 1 && c.getPath.toDotString == f.name)
    }
    if (paired.exists(_._2.isEmpty)) return None
    val chunks = paired.map { case (b, c) => (b, c.get.getStatistics) }
    if (chunks.exists(_._2 == null)) return None
    // every chunk must either carry min/max or PROVE itself all-null;
    // a statless chunk holding values would break the merged bound
    val sound = chunks.forall { case (b, s) =>
      s.hasNonNullValue || (s.isNumNullsSet && s.getNumNulls == b.getRowCount)
    }
    if (!sound) return None
    val stats = chunks.map(_._2)
    val nullsKnown = stats.forall(_.isNumNullsSet)
    val numNulls = if (nullsKnown) Some(stats.map(_.getNumNulls).sum) else None
    val hasNulls = numNulls.forall(_ > 0) // unknown → conservatively true
    val valued = stats.filter(_.hasNonNullValue)
    if (valued.isEmpty) return None // all-null column: no entry (agg path parity)
    def longs: (Any, Any) = {
      val vs = valued.map(_.genericGetMin.asInstanceOf[Number].longValue()) ->
        valued.map(_.genericGetMax.asInstanceOf[Number].longValue())
      (vs._1.min, vs._2.max)
    }
    val bounds: Option[(Any, Any)] = f.dataType match {
      case LongType | IntegerType | ShortType | ByteType => Some(longs)
      case DoubleType | FloatType =>
        val lo0 = valued.map(_.genericGetMin.asInstanceOf[Number].doubleValue()).min
        val hi0 = valued.map(_.genericGetMax.asInstanceOf[Number].doubleValue()).max
        if (lo0.isNaN || hi0.isNaN) None
        else Some((
          if (lo0 == 0d) -0.0d else lo0,  // widen signed zeros: parquet
          if (hi0 == 0d) 0.0d else hi0))  // writers may store either sign
      case StringType =>
        val ord = Ordering.comparatorToOrdering(
          java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte]))
        val loB = valued.map(_.genericGetMin
          .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes).min(ord)
        val hiB = valued.map(_.genericGetMax
          .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes).max(ord)
        val lo0 = new String(loB, StandardCharsets.UTF_8)
        val hi0 = new String(hiB, StandardCharsets.UTF_8)
        // byte-exact round-trip or no entry: a bound that doesn't
        // decode losslessly could reorder after re-encoding
        if (java.util.Arrays.equals(lo0.getBytes(StandardCharsets.UTF_8), loB) &&
            java.util.Arrays.equals(hi0.getBytes(StandardCharsets.UTF_8), hiB))
          Some((lo0, hi0))
        else None
      case _ => None
    }
    bounds.map { case (lo, hi) => (lo, hi, hasNulls, numNulls) }
  }

  /** The aggregation-job stats path (one column-pruned Spark job over
    * only the fresh files, one output row per file — driver traffic
    * bounded by file count): required when bloom/NDV sidecars are
    * configured, since those aggregate actual values; min/max and the
    * has-nulls flag ride along in the same pass. Min/max ignore
    * nulls, so without the flag a range-pruned file could silently
    * carry null-keyed rows past `merge`'s null-key raise.
    */
  private def aggStats(sub: String, rels: Seq[String], schema: StructType)
      : Map[String, JsonNode] = {
    val fields = statFields(schema)
    if (fields.isEmpty || rels.isEmpty) return Map.empty
    // bloom sidecars ride the SAME per-file aggregation pass as the
    // min/max stats — enabling the index adds agg columns, not jobs.
    // xxhash64 is the probe side's hash too (Spark hash functions are
    // null-total, so null keys just set one harmless bit pattern)
    val bloomCols = bloomConfig.toSeq.flatMap(cfg =>
      cfg.columns.filter(schema.fieldNames.contains).map(c => (c, cfg)))
    val bloomAggs = bloomCols.map { case (c, cfg) =>
      org.apache.spark.sql.functions.udaf(
          new graft.functions.BloomAgg(cfg.expected, cfg.fpp),
          org.apache.spark.sql.Encoders.scalaLong)
        .apply(org.apache.spark.sql.functions.xxhash64(col(c)))
        .as(s"__bloom_$c")
    }
    // HLL NDV sketches ride the same pass (mergeable across files —
    // the only O(metadata) global-distinct answer)
    val ndvCols = ndvConfig.toSeq.flatMap(cfg =>
      cfg.columns.filter(schema.fieldNames.contains).map(c => (c, cfg.lgK)))
    val ndvAggs = ndvCols.map { case (c, lgK) =>
      // Spark's HllSketchAgg accepts integral/string/binary inputs
      // natively; every other type (double measures above all — the
      // columns KLL histograms want NDV for) sketches its xxhash64
      // instead: distinct values ↔ distinct hashes at NDV precision.
      // Era-safe: such columns could never commit before (analysis
      // error), so no raw-value sidecars exist to mix with, and the
      // appendEvolve guard already refuses representation-changing
      // widenings on NDV-indexed columns.
      val in = schema(c).dataType match {
        case LongType | IntegerType | ShortType | ByteType | StringType |
             BinaryType => col(c)
        case _ => org.apache.spark.sql.functions.xxhash64(col(c))
      }
      org.apache.spark.sql.functions.hll_sketch_agg(in, lgK).as(s"__ndv_$c")
    }
    // KLL quantile + Theta key sketches ride the same pass too: the
    // type filters mirror the aggregates' own input contracts (a
    // config naming a non-numeric kll column or a double theta column
    // just doesn't build that sidecar — advisory, never a crash)
    val kllCols = sketchConfig.toSeq.flatMap(cfg =>
      cfg.kll.filter(c => schema.fields.exists(f => f.name == c &&
          f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
        .map(c => (c, cfg.kllK)))
    // built as raw aggregate expressions through the bridge (not
    // call_function) so the stats job never depends on GraftFunctions
    // having been registered in this session
    val kllAggs = kllCols.map { case (c, k) =>
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.KllSketchAgg(
          org.apache.spark.sql.GraftSqlBridge.expr(col(c).cast("double")), k)
          .toAggregateExpression()).as(s"__kll_$c")
    }
    val thetaCols = sketchConfig.toSeq.flatMap(cfg =>
      cfg.theta.filter(c => schema.fields.exists(f => f.name == c &&
          (f.dataType match {
            case LongType | IntegerType | ShortType | ByteType | StringType => true
            case _ => false
          })))
        .map(c => (c, cfg.thetaLgK)))
    val thetaAggs = thetaCols.map { case (c, lgK) =>
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.ThetaSketchAgg(
          org.apache.spark.sql.GraftSqlBridge.expr(col(c)), lgK)
          .toAggregateExpression()).as(s"__theta_$c")
    }
    val aggs = (count(lit(1)).as("__rows") +: fields.flatMap(f =>
      Seq(min(col(f.name)).as(s"__min_${f.name}"), max(col(f.name)).as(s"__max_${f.name}"),
        count(col(f.name)).as(s"__nn_${f.name}")))) ++
      bloomAggs ++ ndvAggs ++ kllAggs ++ thetaAggs
    val aggDf = spark.read.parquet(s"$dir/$sub")
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
    val nScalar = 2 + 3 * fields.size
    val rows: Array[Row] =
      if (bloomCols.isEmpty && ndvCols.isEmpty &&
          kllCols.isEmpty && thetaCols.isEmpty) aggDf.collect()
      else {
        // Sidecar blobs are written TASK-SIDE and only the scalar
        // stats prefix rides to the driver: a bloom blob is ~1.2 MB
        // per column per file (BloomAgg at the 1M/0.01 default), so a
        // bulk commit — a 100k-file backfill, a large compaction on an
        // indexed table — would otherwise funnel hundreds of GB
        // through one driver collect. Executors write to the table
        // directory, which they can reach by construction (they write
        // the data files themselves). The write happens inside the
        // task before its rows ship, so every sidecar is on disk when
        // collect() returns — i.e. before the manifest commits; a
        // retried task rewrites identical bytes (the agg is
        // deterministic per file), so replays are idempotent.
        val tableDir = dir
        val bloomNames = bloomCols.map(_._1)
        val ndvNames = ndvCols.map(_._1)
        val kllNames = kllCols.map(_._1)
        val thetaNames = thetaCols.map(_._1)
        aggDf.rdd.mapPartitions { it =>
          // tmp + ATOMIC_MOVE, the manifest's write discipline: a
          // speculative/killed duplicate attempt dying mid-write after
          // the survivor finished must not leave a torn sidecar at the
          // final name (plain create+truncate Files.write could).
          // Racing attempts write identical bytes (the agg is
          // deterministic per file), so whichever move lands last is
          // byte-equal; REPLACE_EXISTING keeps the replay idempotent.
          def put(target: java.nio.file.Path, blob: Array[Byte]): Unit = {
            val tmp = target.resolveSibling(
              s".${target.getFileName}.tmp-${java.util.UUID.randomUUID()}")
            Files.write(tmp, blob)
            try Files.move(tmp, target,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.AtomicMoveNotSupportedException =>
                Files.move(tmp, target,
                  java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
            ()
          }
          it.map { r =>
            val uri = r.getString(0)
            val name = uri.substring(uri.lastIndexOf('/') + 1)
            bloomNames.zipWithIndex.foreach { case (c, j) =>
              val blob = r.getAs[Array[Byte]](nScalar + j)
              if (blob != null)
                put(Paths.get(tableDir, sub, s"$name.bloom-$c"), blob)
            }
            ndvNames.zipWithIndex.foreach { case (c, j) =>
              val blob = r.getAs[Array[Byte]](nScalar + bloomNames.size + j)
              if (blob != null)
                put(Paths.get(tableDir, sub, s"$name.ndv-$c"), blob)
            }
            kllNames.zipWithIndex.foreach { case (c, j) =>
              val blob = r.getAs[Array[Byte]](
                nScalar + bloomNames.size + ndvNames.size + j)
              if (blob != null)
                put(Paths.get(tableDir, sub, s"$name.kll-$c"), blob)
            }
            thetaNames.zipWithIndex.foreach { case (c, j) =>
              val blob = r.getAs[Array[Byte]](
                nScalar + bloomNames.size + ndvNames.size + kllNames.size + j)
              if (blob != null)
                put(Paths.get(tableDir, sub, s"$name.theta-$c"), blob)
            }
            Row.fromSeq(r.toSeq.take(nScalar))
          }
        }.collect()
      }
    rows.map { r =>
      val uri = r.getString(0)
      val name = uri.substring(uri.lastIndexOf('/') + 1)
      val total = r.getLong(1)
      val node = mapper.createObjectNode()
      // NaN guard, wide-string truncation, and the [min,max,hasNulls,
      // nn] layout all live in putStatEntry, shared with footerStats
      fields.zipWithIndex.foreach { case (f, i) =>
        val nonNull = r.getLong(4 + 3 * i)
        putStatEntry(node, f, r.get(2 + 3 * i), r.get(3 + 3 * i),
          hasNulls = nonNull < total, nn = Some(nonNull))
      }
      // sidecar BUILD TYPE per bloom column: probes must hash in the
      // type the filter was built with, not the (possibly since
      // widened) committed type — consulted by every probe site via
      // bloomAdmits; appendEvolve stamps it onto files that predate
      // this record when it widens an indexed column
      bloomCols.foreach { case (c, _) =>
        node.put(s"__bt_$c", VersionedTable.typeTag(schema(c).dataType)); () }
      // per-file ROW COUNT, free in this same pass: sums to the exact
      // snapshot cardinality (copy-on-write, no tombstones), which the
      // lazy scan serves as Statistics.rowCount and the metadata-only
      // COUNT(*) rewrite answers without opening a single file. Put
      // LAST so a user column literally named "_rows" loses its
      // min/max entry (sound — it just won't prune) rather than
      // corrupting the count.
      node.put("_rows", total)
      s"$sub/$name" -> (node: JsonNode)
    }.toMap
  }

  /** Can this file hold null values of `key`? True unless the stats
    * PROVE otherwise (a three-element `[min,max,hasNulls]` entry with
    * the flag false) — missing stats, a missing column entry, or a
    * pre-flag two-element manifest all answer conservatively.
    */
  private def statMayHaveNulls(st: Option[JsonNode], key: String): Boolean =
    st.flatMap(n => Option(n.get(key))) match {
      case Some(a) if a.isArray && a.size() >= 3 => a.get(2).asBoolean
      case _ => true
    }

  /** Does this file's recorded [min,max] for `key` intersect the
    * update range [lo,hi]? Missing stats (pre-stats manifest, carried
    * file without them, unsupported key type) are conservatively
    * "yes" — pruning may only ever skip files that provably contain
    * no matching key.
    */
  private def rangeOverlaps(st: Option[JsonNode], key: String, dt: DataType,
      lo: Any, hi: Any): Boolean =
    // non-array entry = the per-file "_rows" count colliding with a
    // column literally named _rows: that column has no range stats, so
    // it conservatively never prunes (same guard as statMayHaveNulls)
    st.flatMap(n => Option(n.get(key))).filter(_.isArray) match {
      case None => true
      case Some(a) =>
        def asL(x: Any): Long = x match {
          case v: Long => v; case v: Int => v.toLong
          case v: Short => v.toLong; case v: Byte => v.toLong
        }
        def asD(x: Any): Double = x match {
          case v: Double => v; case v: Float => v.toDouble
        }
        dt match {
          case LongType | IntegerType | ShortType | ByteType =>
            a.get(1).asLong >= asL(lo) && a.get(0).asLong <= asL(hi)
          case DoubleType | FloatType =>
            // NaN in the bounds or the stats (older manifests) breaks
            // the order — never prune on it
            val (sLo, sHi) = (a.get(0).asDouble, a.get(1).asDouble)
            val (bLo, bHi) = (asD(lo), asD(hi))
            sLo.isNaN || sHi.isNaN || bLo.isNaN || bHi.isNaN ||
              (sHi >= bLo && sLo <= bHi)
          case StringType =>
            // compare in UTF-8 byte order — the order Spark's string
            // min/max uses (UTF8String is byte-comparable); JVM
            // String.compareTo (UTF-16 code units) disagrees above the
            // BMP, which would make pruning unsound there. A null max
            // stat means "+unbounded" (truncated wide value): the
            // upper-side test passes vacuously. The stored min may be
            // a truncated PREFIX — still a sound lower bound.
            def b(s: String) = s.getBytes(StandardCharsets.UTF_8)
            (a.get(1).isNull ||
              java.util.Arrays.compareUnsigned(b(a.get(1).asText), b(lo.toString)) >= 0) &&
              java.util.Arrays.compareUnsigned(b(a.get(0).asText), b(hi.toString)) <= 0
          case _ => true
        }
    }

  /** Atomically claim version `v` with the given file list; throws
    * ConcurrentModificationException ONLY if another writer holds the
    * version (any real I/O failure propagates untranslated).
    * (private[graft]: the spec races two claims directly to prove the
    * claim-once guarantee.)
    */
  private[graft] def commit(v: Int, op: String, fileList: Seq[String],
      schemaJson: String = null, stats: Map[String, JsonNode] = Map.empty,
      epoch: Option[Long] = None, cdf: Option[Seq[String]] = None,
      extraRetired: Seq[String] = Seq.empty,
      constraintsOverride: Option[Seq[(String, String)]] = None,
      extraCopied: Seq[String] = Seq.empty,
      extraMeta: Map[String, String] = Map.empty): Int = {
    val writer = java.util.UUID.randomUUID().toString
    val node = mapper.createObjectNode()
    node.put("version", v)
    node.put("op", op)
    node.put("writer", writer)
    node.put("ts", System.currentTimeMillis()) // commit wall time (history())
    // op-specific provenance (e.g. a clone's source dir + version):
    // NOT carried forward — it describes THIS commit only
    extraMeta.foreach { case (k, value) => node.put(k, value); () }
    if (schemaJson != null) node.put("schema", schemaJson)
    epoch.foreach { e => node.put("epoch", e); () }
    // The previous HEAD manifest, parsed ONCE for every carried node
    // below (retired / constraints / copied). Absence is legal only
    // for raw version-1 commits; a parse failure is surfaced per-node
    // with each node's own tolerance (advisory carries swallow it,
    // the constraint carry propagates it).
    lazy val prevManifest: scala.util.Try[Option[JsonNode]] = scala.util.Try {
      if (v <= 1 || !Files.exists(manifestPath(v - 1))) None
      else Some(manifest(v - 1))
    }
    // RETIRED physical storage names (dropped columns): carried
    // forward on every commit, so a column later re-added under a
    // dropped name can never be assigned the dropped data's storage —
    // old files still hold those values, and reusing the name would
    // resurrect them. Overwrite resets: its snapshot shares no files
    // with the past.
    val retired: Seq[String] =
      if (op == "overwrite") extraRetired.distinct
      else {
        val prevRetired = prevManifest.toOption.flatten
          .map(retiredOf).getOrElse(Seq.empty)
        (prevRetired ++ extraRetired).distinct
      }
    if (retired.nonEmpty) {
      val ra = node.putArray("retired")
      retired.foreach(ra.add)
    }
    // CHECK constraints are versioned metadata, carried forward on
    // EVERY commit — including overwrite and restore: a data-quality
    // gate survives a snapshot replacement (the new rows went through
    // commitData's validation like any others). Unlike the advisory
    // `retired` carry above, a read failure here propagates: silently
    // dropping the node would disable enforcement for every commit
    // after this one. (v-1 is the head we just built this commit
    // against, so it cannot be below the vacuum horizon; the exists
    // guard only covers raw commits of version 1 in tests.)
    val carriedConstraints: Option[Seq[(String, String)]] =
      constraintsOverride.orElse(prevManifest.get.flatMap(constraintsOf))
    carriedConstraints.foreach { list =>
      val cn = node.putObject("constraints")
      list.foreach { case (n, e) => cn.put(n, e); () }
    }
    // COPY INTO load history: source-file identities already ingested,
    // carried on EVERY commit (including overwrite — Delta's COPY INTO
    // dedup likewise survives content replacement; FORCE is the
    // explicit reload path). Best-effort carry like `retired`: the
    // history is an idempotence ledger, not a correctness gate.
    val copied: Seq[String] = {
      val prev = prevManifest.toOption.flatten
        .map(copiedOf).getOrElse(Seq.empty)
      (prev ++ extraCopied).distinct
    }
    if (copied.nonEmpty) {
      val ca = node.putArray("copied")
      copied.foreach(ca.add)
    }
    val arr = node.putArray("files")
    fileList.foreach(arr.add)
    cdf.foreach { rels =>
      val ca = node.putArray("cdf") // present-but-empty = "zero changes"
      rels.foreach(ca.add)
    }
    if (stats.nonEmpty) {
      val sn = node.putObject("stats")
      fileList.foreach(f => stats.get(f).foreach { s => sn.set[JsonNode](f, s); () })
    }
    Files.createDirectories(logDir)
    // the claim itself is delegated to the pluggable CommitStore: the
    // default is POSIX link/mkdir put-if-absent; an object-store
    // deployment swaps in a conditional-PUT store instead of silently
    // assuming atomic rename (see CommitStore's scaladoc)
    commitStore.putIfAbsent(manifestPath(v), mapper.writeValueAsBytes(node),
      s"version $v of $dir")
    // advisory metadata (checkpoint, pointers) must never turn a
    // durably claimed commit into a caller-visible failure — a
    // retry would double-write the data
    try afterClaim(v, node)
    catch { case NonFatal(_) => () }
    v
  }

  /** Storage primitive for the manifest claim (see [[CommitStore]]);
    * `private[graft] var` so the spec can race commits through a
    * simulated no-atomic-rename store, and an embedding deployment
    * can install a real conditional-put implementation.
    */
  private[graft] var commitStore: CommitStore =
    new CommitStore.AtomicRename(() => assumeLinkless)

  // test hook: tmpfs/ext4 all support link(2), so the linkless claim
  // path is otherwise unreachable under test
  private[graft] var assumeLinkless = false

  /** Every Nth commit: duplicate the (self-contained) manifest as a
    * checkpoint and bump the advisory pointer. Only the claim winner
    * of version v runs this, so the checkpoint file needs no claim of
    * its own; the pointer is last-writer-wins and a stale value only
    * costs extra forward probes.
    */
  private def afterClaim(v: Int, node: ObjectNode): Unit = {
    // epoch knowledge is made durable OUTSIDE the manifests so vacuum
    // can drop the manifests that carry it without opening an
    // exactly-once hole for replayed micro-batches
    if (node.has("epoch")) writeEpochPointer(node.get("epoch").asLong)
    if (v % CheckpointInterval == 0) {
      Files.write(checkpointPath(v), mapper.writeValueAsBytes(node))
      val pn = mapper.createObjectNode()
      pn.put("version", v)
      atomicReplace(pointerPath, pn)
    }
  }

  /** Atomically replace an advisory pointer file (write temp, atomic
    * move, non-atomic replace where the FS can't).
    */
  private def atomicReplace(target: Path, node: ObjectNode): Unit = {
    val tmp = logDir.resolve(s".ptr-${java.util.UUID.randomUUID()}")
    Files.write(tmp, mapper.writeValueAsBytes(node))
    try Files.move(tmp, target,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING)
    }
    ()
  }

  private def epochPointerPath: Path = logDir.resolve("_last_epoch")

  private def pointerEpoch: Option[Long] =
    if (!Files.exists(epochPointerPath)) None
    else
      try {
        val n = mapper.readTree(epochPointerPath.toFile).path("epoch")
        if (n.isMissingNode) None else Some(n.asLong)
      } catch { case NonFatal(_) => None } // torn pointer: advisory only

  /** Advance the durable epoch high-water mark (monotonic, advisory,
    * atomic replace). The monotonic check-then-move runs under a
    * per-directory JVM lock so an in-process vacuum harvest racing a
    * stream commit cannot regress the mark; cross-process the residual
    * window needs a second independent failure (a later vacuum whose
    * harvest also fails) to become visible — accepted and documented.
    */
  private def writeEpochPointer(e: Long): Unit =
    VersionedTable.epochLock(dir).synchronized {
      if (!pointerEpoch.exists(_ >= e)) {
        val pn = mapper.createObjectNode()
        pn.put("epoch", e)
        atomicReplace(epochPointerPath, pn)
      }
    }

  /** The schema this commit stores: the frame's own, plus column-
    * mapping metadata inherited by name from the previous committed
    * schema — physical names are stable for a column's lifetime, so
    * every rewrite (merge, compact, evolve) keeps writing renamed
    * columns under their original stored names. `overwrite` resets
    * (it replaces the file set whole — a fresh mapping-free schema).
    * A NEW column whose name collides with an inherited physical
    * name (add `a` after renaming some `a`→`b`) gets a synthesized
    * physical name — two columns must never share stored storage.
    */
  private def inheritMapping(v: Int, op: String, base: StructType): StructType = {
    if (op == "overwrite" || v <= 1) return base
    val prevM =
      try Some(manifest(v - 1))
      catch { case NonFatal(_) => None }
    val prevSchema = prevM.flatMap(m => Option(m.get("schema")))
      .map(s => DataType.fromJson(s.asText()).asInstanceOf[StructType])
    val retired = prevM.map(retiredOf).getOrElse(Seq.empty)
    prevSchema match {
      case Some(ps) if hasMapping(ps) || retired.nonEmpty =>
        val inherited = ps.fields.iterator
          .filter(f => base.fieldNames.contains(f.name))
          .map(f => f.name -> VersionedTable.physicalName(f)).toMap
        val taken = scala.collection.mutable.HashSet.empty[String]
        taken ++= inherited.values
        taken ++= retired // dropped columns' storage is never reusable
        def withPhysical(f: StructField, p: String): StructField =
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(VersionedTable.PhysicalNameKey, p).build())
        StructType(base.fields.map { f =>
          inherited.get(f.name) match {
            case Some(p) if p != f.name => withPhysical(f, p)
            case Some(_)                => f
            case None =>
              if (taken.add(f.name)) f
              else { val p = s"${f.name}__c$v"; taken += p; withPhysical(f, p) }
          }
        })
      case _ => base
    }
  }

  /** Remap a per-file stats node's column keys physical→logical (the
    * stored convention: stats keys track the commit's LOGICAL names,
    * re-keyed at each rename — read-side consumers never translate).
    */
  private def statsToLogical(st: StructType,
      stats: Map[String, JsonNode]): Map[String, JsonNode] =
    if (!hasMapping(st)) stats
    else {
      val toLogical = st.fields.iterator
        .map(f => VersionedTable.physicalName(f) -> f.name).toMap
      stats.map { case (file, node) =>
        val out = mapper.createObjectNode()
        node.properties().forEach { e =>
          out.set[JsonNode](toLogical.getOrElse(e.getKey, e.getKey), e.getValue); ()
        }
        file -> (out: JsonNode)
      }
    }

  /** Write + claim; a lost race deletes the just-written data files
    * before rethrowing, so conflicts leak nothing. (private[graft]
    * for the same race-injection reason as commit.)
    */
  private[graft] def commitData(v: Int, op: String, df: DataFrame,
      carryForward: Seq[String], carriedStats: Map[String, JsonNode] = Map.empty,
      epoch: Option[Long] = None, changes: Option[DataFrame] = None,
      extraCopied: Seq[String] = Seq.empty,
      extraMeta: Map[String, String] = Map.empty): Int = {
    val storeSchema = inheritMapping(v, op, df.schema)
    val (sub, fresh) = writeFiles(toPhysical(df, storeSchema))
    // ANY failure past this point (stats pass, change write, lost
    // commit race, torn manifest write) leaves data no manifest
    // references — reclaim it here or it leaks forever (vacuum only
    // sees manifest-held files). The change files are written AFTER
    // the data (a failing rewrite — upsert's null-key raise — must
    // not leave change files for a commit that never happened) and
    // cleaned up alongside it.
    var cdfSub: Option[String] = None
    try {
      val cdfRels = changes.map { ch =>
        val (csub, crels) = writeFiles(
          toPhysical(ch, storeSchema, extra = Seq(VersionedTable.ChangeTypeCol)),
          prefix = "cdf")
        cdfSub = Some(csub)
        crels
      }
      // enforced CHECK constraints: refuse (and reclaim) a violating
      // batch BEFORE any manifest claim; carried files never re-scan
      validateConstraints(sub, storeSchema, carryForward, carriedStats)
      val stats = carriedStats ++ statsToLogical(storeSchema,
        freshStats(sub, fresh, physicalSchema(storeSchema)))
      commit(v, op, carryForward ++ fresh, storeSchema.json, stats, epoch, cdfRels,
        extraCopied = extraCopied, extraMeta = extraMeta)
    } catch {
      case scala.util.control.NonFatal(e) =>
        (Seq(sub) ++ cdfSub).foreach { s =>
          try deleteTree(Paths.get(dir, s))
          catch { case scala.util.control.NonFatal(_) => () }
        }
        throw e
    }
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.foreach(deleteTree)
      } finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }

  /** The committed schema must match the incoming one (names + types,
    * nullability ignored — parquet writers vary it): mixed-schema data
    * files would read back with whichever schema the scan samples, a
    * silent-corruption class Delta also rejects. `overwrite` is the
    * sanctioned schema-change path (it replaces the file set whole).
    */
  private def requireSchemaMatch(df: DataFrame, m: JsonNode, op: String): Unit = {
    // manifests written through the raw commit path may carry no (or an
    // empty) schema — nothing to enforce against
    val sNode = m.get("schema")
    if (sNode == null) return
    val committed = DataType.fromJson(sNode.asText()).asInstanceOf[StructType]
    if (committed.fields.isEmpty) return
    // normalize nullability RECURSIVELY: reading parquet back flips
    // inner struct/array/map nullability, and DataType equality is
    // deep — comparing raw types would spuriously reject round-tripped
    // frames despite the "nullability ignored" contract above
    def norm(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = norm(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = norm(a.elementType), containsNull = true)
      case mp: org.apache.spark.sql.types.MapType =>
        mp.copy(keyType = norm(mp.keyType), valueType = norm(mp.valueType),
          valueContainsNull = true)
      case other => other
    }
    def shape(s: StructType) = s.fields.toSeq.map(f => (f.name, norm(f.dataType)))
    require(shape(committed) == shape(df.schema),
      s"$op schema mismatch for table at $dir: committed ${committed.simpleString}, " +
        s"got ${df.schema.simpleString} (use overwrite() to change a table's schema)")
  }

  /** The one optimistic-concurrency loop every head-relative write
    * verb runs in: `body` reads the head, plans against it and claims
    * head+1; a lost claim re-executes the ENTIRE declarative
    * operation — validation, pruning, rewrite, change files — against
    * the winner's snapshot. That is the always-correct arm of Delta's
    * conflict resolution (re-apply after the winner, i.e. serialize
    * behind it): the operation's INPUT (rows, update set, delete keys,
    * predicate) is fixed, so re-running it on version v+1 instead of v
    * yields exactly the state a serial execution would. Blind appends
    * commute, so for them the re-run is plain serialization; a
    * rewrite's re-run sees a concurrent append's rows instead of
    * carrying stale files (no conflict-classification fast path).
    * Epoch-keyed verbs re-check the epoch inside `body`, so a
    * duplicate delivery that lost to its twin is absorbed. Bounded:
    * the `MaxCommitRetries`-th lost claim propagates. This is the only
    * place a lost claim is caught; [[MaterializedView.refresh]] claims
    * its state table's next version through it too.
    */
  private[sources] def retrying[A](body: => A): A = {
    def attempt(n: Int): A =
      try body
      catch {
        case _: java.util.ConcurrentModificationException
            if n < VersionedTable.MaxCommitRetries => attempt(n + 1)
      }
    attempt(1)
  }

  /** The head snapshot a rewriting or schema verb plans against: its
    * version, manifest, file list, per-file stats and committed schema
    * (`schemaJson` as stored, null on a raw-commit manifest).
    */
  private final class Head(val v: Int, val m: JsonNode) {
    val files: Seq[String] = manifestFiles(m)
    val stats: Map[String, JsonNode] = manifestStats(m)
    val schemaJson: String = Option(m.get("schema")).map(_.asText()).orNull
    lazy val schema: Option[StructType] =
      Option(schemaJson).map(s => DataType.fromJson(s).asInstanceOf[StructType])

    /** The committed schema, which a schema-changing `verb` needs. */
    def requireSchema(verb: String): StructType = {
      require(schema.exists(_.fields.nonEmpty),
        s"table at $dir carries no committed schema (raw commits); cannot $verb")
      schema.get
    }
  }

  private def head(v: Int = currentVersion): Head = {
    require(v > 0, s"table at $dir has no committed version")
    new Head(v, manifest(v))
  }

  /** The one copy-on-write commit: claim head+1 with `rewrite`'s rows
    * plus its untouched files and their stats. `None` (nothing to
    * rewrite) is a visible no-op commit carrying the head's files,
    * schema and stats — and `epoch`, so a replayed empty batch stays
    * absorbed.
    */
  private def commitRewrite(h: Head, op: String, rewrite: Option[Rewrite],
      epoch: Option[Long] = None, extraMeta: Map[String, String] = Map.empty): Int =
    rewrite match {
      case None =>
        commit(h.v + 1, op, h.files, h.schemaJson, h.stats, epoch, extraMeta = extraMeta)
      case Some(r) =>
        commitData(h.v + 1, op, r.rows, r.untouched,
          r.untouched.flatMap(f => h.stats.get(f).map(f -> _)).toMap,
          epoch = epoch, changes = r.changes, extraMeta = extraMeta)
    }

  /** Head files split (touched, untouched) by whether their stats MAY
    * hold a row matching `condition` — the sound-only [[DataSkipping]]
    * contract: unrecognized conjunct shapes touch every file.
    */
  private def prunePredicate(h: Head, condition: Column): (Seq[String], Seq[String]) = {
    val cons = DataSkipping.constraints(
      org.apache.spark.sql.GraftColumnBridge.expression(condition))
    h.files.partition(f => DataSkipping.mayMatch(h.stats.get(f), h.schema, cons))
  }

  /** Head files split (touched, untouched) for a key-set verb whose
    * keys span [lo, hi]: a file is touched when its [min,max] of `key`
    * overlaps that range and its bloom sidecar (if the key is indexed
    * and the set small — one bounded collect of `keys`, hashed per
    * sidecar build type) admits some key, or when `mustTouch` says so.
    * `prunable = false` (a key-type mismatch) touches every file.
    */
  private def pruneKeys(h: Head, keys: DataFrame, key: String, keyType: DataType,
      lo: Any, hi: Any, prunable: Boolean = true,
      mustTouch: String => Boolean = _ => false): (Seq[String], Seq[String]) = {
    val probe = deleteProbeHashes(keys, key, prunable, h.stats)
    h.files.partition(f => !prunable || mustTouch(f) ||
      (rangeOverlaps(h.stats.get(f), key, keyType, lo, hi) &&
        probe.forall { case (dTag, byTag) => bloomAdmits(f, key, dTag, byTag, h.stats) }))
  }

  /** Append with the batch born range-clustered on `cols`: range
    * partition + sort-within before the write, so every new file gets
    * TIGHT disjoint [min,max] stats on the cluster columns at ingest
    * time — data skipping works from the first commit instead of
    * waiting for a `compact(clusterBy)` maintenance pass. This is how
    * a 100 TB ingest keeps point/range reads O(matching files) without
    * ever rewriting: the clustering cost is paid once, in the write's
    * own shuffle. `files` bounds the file count per batch (range
    * partitioning makes them near-equal rows).
    */
  def appendClustered(df: DataFrame, cols: Seq[String], files: Int = 8): Int = {
    require(cols.nonEmpty, "appendClustered needs at least one cluster column")
    require(files >= 1, s"files must be >= 1, got $files")
    val sortCols = cols.map(col)
    append(df.repartitionByRange(files, sortCols: _*)
      .sortWithinPartitions(sortCols: _*))
  }

  /** Append: next version = previous file list (stats carried) + the
    * new files. Appends commute, so a lost optimistic-concurrency race
    * is retried automatically against the fresh snapshot (Delta calls
    * these blind appends) — two concurrent appenders both succeed,
    * serialized; after `MaxCommitRetries` consecutive losses the
    * conflict surfaces.
    */
  def append(df: DataFrame): Int = retrying(blindAppend(df, "append", None))

  /** One claim of a blind append on the current head (`op` also names
    * the verb in the schema-mismatch error).
    */
  private def blindAppend(df: DataFrame, op: String, epoch: Option[Long]): Int = {
    val prev = currentVersion
    val (existing, exStats) =
      if (prev == 0) (Seq.empty[String], Map.empty[String, JsonNode])
      else {
        val m = manifest(prev)
        requireSchemaMatch(df, m, op)
        (manifestFiles(m), manifestStats(m))
      }
    commitData(prev + 1, op, df, existing, exStats, epoch)
  }

  /** Idempotent file-level batch ingest (Delta's `COPY INTO`): load
    * every `format` data file under `srcDir` that no previous
    * copyInto on this table has loaded, as one append commit. Loaded
    * source-file identities (absolute path + size + mtime — a
    * rewritten file of the same name re-loads even at an identical
    * byte size) are recorded in the commit manifest's
    * `copied` ledger and carried forward, so the statement is safely
    * RE-RUNNABLE: after a partial failure nothing was committed and
    * the retry loads everything; after success a re-run is a no-op;
    * on a grown directory exactly the new files load. `force = true`
    * ignores the ledger (Delta's COPY_OPTIONS force) — a deliberate
    * double-load. Returns (version, filesLoaded); zero new files
    * commits nothing and returns the current version.
    *
    * 100 TB posture: the listing is driver-side O(files) metadata (the
    * same cost the manifest itself pays), the read+write is one
    * distributed pass over only the NEW bytes, and the ledger adds
    * O(loaded files) strings to the manifest — the same growth rate
    * as the file list itself. Schema conformance rides commitData's
    * existing gate (requireSchemaMatch + CHECK constraints).
    */
  def copyInto(srcDir: String, format: String = "parquet",
      force: Boolean = false): (Int, Int) = {
    val ext = "." + format.toLowerCase
    val root = Paths.get(srcDir).toAbsolutePath.normalize()
    require(Files.isDirectory(root), s"COPY INTO source $srcDir is not a directory")
    val listed: Seq[(String, String)] = { // (identity, path)
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.toLowerCase.endsWith(ext) &&
            !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith("."))
          .map(p => (s"$p#${Files.size(p)}#${Files.getLastModifiedTime(p).toMillis}",
            p.toString))
          .toSeq.sortBy(_._2)
      } finally s.close()
    }
    retrying {
      val prev = currentVersion
      val head = if (prev == 0) None else Some(manifest(prev))
      val (existing, exStats, loaded) = head match {
        case None => (Seq.empty[String], Map.empty[String, JsonNode], Set.empty[String])
        case Some(m) =>
          (manifestFiles(m), manifestStats(m),
            if (force) Set.empty[String] else copiedOf(m).toSet)
      }
      val fresh = listed.filterNot(f => loaded(f._1))
      if (fresh.isEmpty) (prev, 0)
      else {
        val df = spark.read.format(format).load(fresh.map(_._2): _*)
        head.foreach(requireSchemaMatch(df, _, "COPY INTO"))
        (commitData(prev + 1, "copy-into", df, existing, exStats,
          extraCopied = fresh.map(_._1)), fresh.size)
      }
    }
  }

  /** Additive schema evolution (Delta's mergeSchema): append a frame
    * that may ADD new columns to — and may omit existing columns of —
    * the committed schema. Columns present on both sides may WIDEN
    * losslessly (byte→short→int→long, float→double — the promotions
    * Spark 4's parquet readers evaluate natively, SPARK-40876): the
    * committed type becomes the wider of the two and files written
    * before the widening are NOT rewritten — the pinned read schema
    * up-converts their values at scan time, and time travel keeps
    * each version's own vintage. Any other type change remains
    * `overwrite`'s job. A bloom-indexed column may widen — sidecars
    * record their build type per file (`__bt_` stats entries) and
    * every probe site hashes in the file's own era — but an
    * NDV-indexed column refuses (HLL sketches union across files;
    * mixed build types would double-count). The committed
    * schema becomes the union: committed columns first (in their
    * order), added columns after, every column that either side can
    * leave unset marked nullable; old files yield null for added
    * columns. Same blind-append retry semantics as [[append]].
    */
  def appendEvolve(df: DataFrame): Int = retrying {
    val prev = currentVersion
    val head = if (prev == 0) None else Some(manifest(prev))
    head.flatMap(m => Option(m.get("schema")).map(sj =>
      m -> DataType.fromJson(sj.asText()).asInstanceOf[StructType]))
      .filter(_._2.fields.nonEmpty) match {
      // an empty table, or a raw-commit table, carries no schema to
      // evolve against
      case None => blindAppend(df, "append", None)
      case Some((m, committed)) =>
        val union = evolvedSchema(committed, df.schema)
        // cast to the union type: a no-op for unchanged columns, the
        // lossless up-cast when the committed type is the wider one
        val aligned = df.select(union.fields.toSeq.map(f =>
          if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)
        // widening a bloom-indexed column: stamp every carried stats
        // node that lacks a build-type record with the PRE-widen
        // committed type. Files written before build types were
        // recorded could only have been built in that type (widening
        // used to refuse outright on indexed columns), so the one-time
        // stamp here keeps their probes sound ever after
        val widenedBloom = committed.fields.toSeq.collect {
          case f if bloomConfig.exists(_.columns.contains(f.name)) &&
              union.fields.exists(u => u.name == f.name && u.dataType != f.dataType) =>
            f.name -> VersionedTable.typeTag(f.dataType)
        }
        val carried =
          if (widenedBloom.isEmpty) manifestStats(m)
          else manifestStats(m).map { case (file, node) =>
            val cp = node.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
            widenedBloom.foreach { case (c, tag) =>
              if (!cp.has(s"__bt_$c")) { cp.put(s"__bt_$c", tag); () } }
            file -> (cp: JsonNode)
          }
        commitData(prev + 1, "append", aligned, manifestFiles(m), carried)
    }
  }

  /** Add a nullable column — a METADATA-ONLY commit (op `addcol`):
    * the schema gains the field, no data file is touched, and every
    * existing row reads NULL for it (the same missing-column scan
    * semantics [[appendEvolve]]'s carried files rely on). Re-adding a
    * previously DROPPED name gets fresh physical storage via the
    * retired-name bookkeeping, so old files can never resurrect the
    * dropped values. The column arrives nullable by construction —
    * a NOT NULL column over existing rows would be instantly false.
    */
  def addColumn(name: String, dt: DataType): Int = addColumns(Seq(name -> dt))

  /** Multi-column form of [[addColumn]] as ONE commit — `ALTER TABLE
    * ADD COLUMNS (a INT, b STRING)` must be all-or-nothing: a
    * per-column commit loop that failed mid-list would leave a
    * half-applied schema change behind a statement that reported an
    * error. Every name validates BEFORE anything commits.
    */
  def addColumns(cols: Seq[(String, DataType)]): Int = retrying {
    require(cols.nonEmpty, "addColumns needs at least one column")
    val dupes = cols.groupBy(_._1).collect { case (n, g) if g.size > 1 => n }
    require(dupes.isEmpty,
      s"duplicate column name(s) in ADD COLUMNS: ${dupes.mkString(", ")}")
    val h = head()
    val st = h.requireSchema("add")
    cols.foreach { case (name, _) =>
      require(name.nonEmpty, "column name must be non-empty")
      require(name != "_rows", "`_rows` is reserved for the per-file row count")
      require(!st.fieldNames.contains(name),
        s"column `$name` already exists in (${st.fieldNames.mkString(", ")})")
    }
    val withNew = StructType(st.fields ++
      cols.map { case (n, dt) => StructField(n, dt, nullable = true) })
    // inheritMapping keeps existing physical names and assigns a new
    // column fresh storage if its name is retired (previously dropped)
    val mapped = inheritMapping(h.v + 1, "addcol", withNew)
    commit(h.v + 1, "addcol", h.files, mapped.json, h.stats)
  }

  /** Rename a column — a METADATA-ONLY commit (Delta's name-mode
    * column mapping): the new schema carries the column's original
    * PHYSICAL name in field metadata, every data file stays exactly
    * where it is, and reads map stored→logical at scan time. Per-file
    * stats re-key to the new logical name inside the same commit, so
    * every read-side consumer (skipping, metadata aggregates, CBO
    * stats, profile) speaks logical names only. Time travel keeps the
    * old name at old versions. Refused for bloom/NDV-indexed columns
    * (sidecar files are named by the column; re-pointing the config
    * is the caller's explicit move) and for `_rows` (reserved).
    * Change-feed consumers keep working across the rename — pieces
    * align by physical identity — and `readAppendsSince` treats it
    * as the zero-row commit it is.
    */
  def renameColumn(oldName: String, newName: String): Int = retrying {
    require(oldName != newName, "rename to the same name is a no-op")
    require(newName.nonEmpty, "new column name must be non-empty")
    require(newName != "_rows", "`_rows` is reserved for the per-file row count")
    val h = head()
    val st = h.requireSchema("rename")
    require(st.fieldNames.contains(oldName),
      s"no column `$oldName` in (${st.fieldNames.mkString(", ")})")
    require(!st.fieldNames.contains(newName),
      s"column `$newName` already exists")
    val indexed = bloomConfig.exists(_.columns.contains(oldName)) ||
      ndvConfig.exists(_.columns.contains(oldName)) ||
      sketchConfig.exists(c => c.kll.contains(oldName) || c.theta.contains(oldName))
    require(!indexed,
      s"cannot rename an index-sidecar column `$oldName` (bloom/NDV/KLL/theta): sidecar files are " +
        "named by it (drop the index config first)")
    requireNoConstraintRefs(oldName, "rename")
    val renamed = StructType(st.fields.map { f =>
      if (f.name == oldName)
        f.copy(name = newName,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(VersionedTable.PhysicalNameKey,
              VersionedTable.physicalName(f)).build())
      else f
    })
    val rekeyed = h.stats.map { case (file, node) =>
      val out = mapper.createObjectNode()
      node.properties().forEach { e =>
        out.set[JsonNode](
          if (e.getKey == oldName) newName else e.getKey, e.getValue); ()
      }
      file -> (out: JsonNode)
    }
    commit(h.v + 1, "rename", h.files, renamed.json, rekeyed)
  }

  /** Drop a column — a METADATA-ONLY commit (op `drop`): the schema
    * loses the field, data files keep their bytes untouched (the
    * pinned read schema simply never selects the stored column), and
    * the column's PHYSICAL storage name is recorded as RETIRED in the
    * manifest so a column later re-added under the same name gets
    * fresh storage instead of resurrecting the dropped values from
    * old files. Stats shed the column's entries in the same commit.
    * Time travel keeps the column at old versions; the change feed
    * and `readAppendsSince` treat the drop as the zero-row commit it
    * is. Refused for bloom/NDV-indexed columns and for the last
    * remaining column.
    */
  def dropColumn(name: String): Int = dropColumns(Seq(name))

  /** Multi-column form of [[dropColumn]] as ONE commit — same
    * all-or-nothing contract as [[addColumns]]: every name validates
    * (exists, unindexed, unreferenced by constraints, not the whole
    * schema) before anything commits.
    */
  def dropColumns(names: Seq[String]): Int = retrying {
    require(names.nonEmpty, "dropColumns needs at least one column")
    require(names.distinct.size == names.size,
      s"duplicate column name(s) in DROP COLUMNS: $names")
    val h = head()
    val st = h.requireSchema("drop")
    // one config snapshot for the whole list — per-name re-reads would
    // cost names×constraints expression parses and could even observe
    // different config states mid-validation
    val bloomCols = bloomConfig.map(_.columns.toSet).getOrElse(Set.empty)
    val ndvCols = ndvConfig.map(_.columns.toSet).getOrElse(Set.empty)
    val cons = constraintList
    val fields = names.map { name =>
      val f = st.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"no column `$name` in (${st.fieldNames.mkString(", ")})"))
      require(!bloomCols(name) && !ndvCols(name),
        s"cannot drop bloom/NDV-indexed column `$name` (drop the index config first)")
      f
    }
    requireNoConstraintRefs(names, "drop", cons)
    require(st.fields.length > names.size, "cannot drop a table's last column")
    val dropSet = names.toSet
    val remaining = StructType(st.fields.filterNot(f => dropSet(f.name)))
    val cleaned = h.stats.map { case (file, node) =>
      val out = mapper.createObjectNode()
      node.properties().forEach { e =>
        if (!dropSet(e.getKey)) { out.set[JsonNode](e.getKey, e.getValue); () }
      }
      file -> (out: JsonNode)
    }
    commit(h.v + 1, "drop", h.files, remaining.json, cleaned,
      extraRetired = fields.map(VersionedTable.physicalName))
  }

  /** `from` values read losslessly as `to`: the widening promotions
    * Spark 4's parquet readers evaluate natively (SPARK-40876), which
    * is what lets old files stay un-rewritten under the widened
    * committed schema.
    */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType)            => true
    case (IntegerType, LongType)                        => true
    case (FloatType, DoubleType)                        => true
    case _                                              => false
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The union schema of an additive evolution; shared columns may
    * widen (either direction — the wider type wins; an incoming
    * NARROWER column just up-casts at write), anything else raises.
    * Columns the incoming frame omits — and every added column — are
    * nullable in the result (old files hold no values for added
    * columns; new files hold none for omitted ones).
    */
  private def evolvedSchema(committed: StructType, incoming: StructType): StructType = {
    val kept = committed.fields.map { f =>
      incoming.fields.find(_.name == f.name) match {
        case None => f.copy(nullable = true)
        case Some(g) if g.dataType == f.dataType => f
        case Some(g) if widens(g.dataType, f.dataType) => f // up-cast at write
        case Some(g) if widens(f.dataType, g.dataType) =>
          // bloom sidecars record their BUILD type per file (stats key
          // `__bt_<col>`), so probes hash each file in its own era and
          // bloom-indexed columns may widen freely. NDV sketches widen
          // too across the INTEGRAL chain: Spark's HllSketchAgg
          // converts every integral input to long before the sketch
          // update (verified empirically — an int-era and a long-era
          // sketch of the same values union to the exact count), so
          // the same logical value lands on the same sketch hash in
          // every era and cross-era unions never double-count. Only a
          // representation-CHANGING widening (float→double — types the
          // sketch agg doesn't accept anyway) would fracture the hash
          // domain, so that combination stays refused defensively.
          require(integral(f.dataType) && integral(g.dataType) ||
            !ndvConfig.exists(_.columns.contains(f.name)),
            s"appendEvolve cannot widen NDV-indexed column ${f.name} " +
              s"from ${f.dataType.simpleString} to ${g.dataType.simpleString}: " +
              "HLL sketch hashes are not stable across that promotion " +
              "(drop the ndv config first)")
          f.copy(dataType = g.dataType)
        case Some(g) =>
          throw new IllegalArgumentException(
            s"appendEvolve cannot change column ${f.name}: committed " +
              s"${f.dataType.simpleString}, got ${g.dataType.simpleString} " +
              "(only lossless widening evolves; use overwrite() otherwise)")
      }
    }
    val added = incoming.fields
      .filterNot(g => committed.fieldNames.contains(g.name))
      .map(_.copy(nullable = true))
    StructType(kept ++ added)
  }

  /** Overwrite: next version = the new files only. Old versions stay
    * readable — nothing is deleted.
    */
  def overwrite(df: DataFrame): Int =
    // last-writer-wins by definition, so re-claiming after a lost race
    // preserves its semantics exactly
    retrying(commitData(currentVersion + 1, "overwrite", df, Seq.empty))

  /** RESTORE (rollback-by-commit, Delta's RESTORE semantics): make
    * version `v`'s content the newest version by committing v's file
    * list — with its schema and per-file stats — under a new version
    * number. No data is copied or rewritten (files are carried by
    * path) and no history is erased: the bad commits stay readable
    * via time travel, the undo is itself an audited commit. Restoring
    * past the vacuum horizon fails at the manifest read — vacuum
    * removed that version's unreferenced files, so the rollback
    * target no longer exists, by design. A restore is a REWRITING
    * commit for downstream contracts: `readAppendsSince` across one
    * resyncs (content rewound — a file-level diff would be a lie) and
    * an incremental view recomputes from the snapshot. CHECK
    * constraints carry from the PRE-restore head (the gate survives
    * the rollback), but restored files are not re-validated — the
    * documented restore-past-an-add window.
    */
  def restore(v: Int): Int =
    // last-writer-wins like overwrite: a restore that lost its claim
    // re-claims on the winner's head with the same target snapshot
    retrying {
      val cur = currentVersion
      require(cur > 0, s"table at $dir has no committed version")
      require(v >= 1 && v <= cur,
        s"version $v out of range (current $cur)")
      // carries the restored manifest's epoch: the new snapshot's
      // CONTENT covers exactly what version v covered, and contentEpoch
      // below must report that (the monotonic stream pointer never
      // rewinds — replay protection is separate from content coverage)
      recommit(cur + 1, "restore", manifest(v))
    }

  /** Claim `v` as a copy of manifest `m`'s snapshot: its exact file
    * list, schema, per-file stats and epoch — no data moves.
    */
  private def recommit(v: Int, op: String, m: JsonNode,
      constraintsOverride: Option[Seq[(String, String)]] = None): Int =
    commit(v, op, manifestFiles(m),
      Option(m.get("schema")).map(_.asText()).orNull, manifestStats(m),
      epoch = if (m.has("epoch")) Some(m.get("epoch").asLong) else None,
      constraintsOverride = constraintsOverride)

  /** SHALLOW (zero-copy) clone: commit this table's current snapshot
    * as version 1 of a fresh table at `destDir`, referencing the
    * SAME data files by absolute path — no bytes move, so cloning a
    * 100 TB table is one manifest write. The clone then lives its own
    * life: appends/MERGE/DELETE write new files under `destDir` and
    * copy-on-write rewrites simply drop references to source files
    * (never delete them — see the vacuum external-file rule);
    * `OPTIMIZE` on the clone rewrites external references into local
    * files, i.e. gradual materialization. Per-file stats carry over
    * (data skipping works on the clone from commit 1), as do CHECK
    * constraints; bloom/NDV sidecars of source files stay readable in
    * place, but the clone starts with no sidecar CONFIG of its own —
    * enable indexes on the clone to cover files IT writes.
    *
    * The source is never modified; its own vacuum can still delete
    * files the clone references (same contract as Delta shallow
    * clones) — deep-copy via `OPTIMIZE`/overwrite before vacuuming
    * the source if the clone must outlive it.
    */
  def cloneTo(destDir: String, version: Int = -1): VersionedTable = {
    val v = if (version == -1) currentVersion else version
    require(v > 0, s"table at $dir has no committed version${if (version > 0) s" $version" else ""}")
    val norm = Paths.get(destDir).toAbsolutePath.normalize()
    require(norm != Paths.get(dir).toAbsolutePath.normalize(),
      s"cannot clone a table onto itself ($dir)")
    val dest = VersionedTable(spark, norm.toString)
    require(dest.currentVersion == 0,
      s"clone destination $destDir already has committed versions")
    val m = manifest(v)
    def abs(rel: String) = if (VersionedTable.isExternal(rel)) rel else s"$dir/$rel"
    val files = manifestFiles(m).map(abs)
    val stats = manifestStats(m).map { case (k, s) => abs(k) -> s }
    // every carried manifest ledger crosses with the files it governs:
    // the COPY ledger (the clone HOLDS those rows — a re-run of the
    // same COPY INTO must stay a no-op) and the RETIRED storage names
    // (the clone references the source's files, so a column re-added
    // on the clone under a dropped name must get fresh storage or the
    // dropped values resurrect from the shared files)
    // change tracking is a table PROPERTY (Delta clones carry table
    // properties): a clone of a CDF table keeps feeding its own
    // rewrites from commit 2 on — replication chains built on clones
    // keep working without a re-enable step. The marker lands BEFORE
    // the commit: a crash between them leaves an uncommitted dir a
    // re-run clones over (enableCdf is idempotent), never a committed
    // clone that silently lost the property.
    if (cdfEnabled) dest.enableCdf()
    dest.commit(1, "clone", files,
      Option(m.get("schema")).map(_.asText()).orNull, stats,
      // the SIDECAR-AWARE resolver, not constraintsOf(m): a source
      // whose constraints still live in the legacy _constraints file
      // (no add/drop since the upgrade — data commits never promote
      // the sidecar) has no manifest node, and constraintsOf alone
      // would clone it with CHECK enforcement silently dropped. The
      // clone's v1 manifest becomes constraint-aware either way.
      constraintsOverride = Some(constraintsAt(v)),
      extraCopied = copiedOf(m),
      extraRetired = retiredOf(m),
      // provenance: which table (normalized dir) and which of ITS
      // versions this clone was taken from. CREATE TABLE IF NOT
      // EXISTS … CLONE verifies these on its attach path, so a re-run
      // pointed at a DIFFERENT source can never silently adopt a
      // pre-existing clone of something else as the requested one.
      extraMeta = Map(
        "cloneSource" -> Paths.get(dir).toAbsolutePath.normalize.toString,
        "cloneVersion" -> v.toString,
        // incarnation nonce: the clone commit's wall-clock ts is only
        // millisecond-grained, so a drop + re-create within the same
        // millisecond would produce an identical stamp and a consumer
        // pinned on it (MV-over-branch) would silently resume a
        // different lineage — the random component makes two forks of
        // the same directory distinguishable regardless of clock
        "cloneNonce" -> java.util.concurrent.ThreadLocalRandom.current()
          .nextLong().toString))
    dest
  }

  /** Wall-clock stamp of a commit's manifest, or None when the
    * manifest is unreadable/pre-timestamp. Version 1's stamp is a
    * table INCARNATION identity: a dropped-and-recreated branch
    * reuses its directory but never its fork stamp.
    */
  private[graft] def commitStamp(version: Int): Option[Long] =
    try {
      val m = manifest(version)
      if (m.has("ts")) Some(m.get("ts").asLong) else None
    } catch { case NonFatal(_) => None }

  /** INCARNATION stamp of a commit: the manifest wall-clock ts mixed
    * with the clone nonce when one was recorded. Two forks of the same
    * directory landing in the same millisecond still read differently
    * (the nonce is random per clone commit); manifests predating the
    * nonce fall back to the bare ts, so pins written against them keep
    * matching.
    */
  private[graft] def incarnationStamp(version: Int): Option[Long] =
    try {
      val m = manifest(version)
      if (!m.has("ts")) None
      else {
        val ts = m.get("ts").asLong
        Some(if (m.has("cloneNonce")) ts ^ m.get("cloneNonce").asLong else ts)
      }
    } catch { case NonFatal(_) => None }

  /** A clone commit's recorded provenance: (normalized source dir,
    * source version cloned). None when the version's manifest is
    * unreadable or predates provenance recording.
    */
  private[graft] def cloneProvenance(version: Int): Option[(String, Int)] =
    try {
      val m = manifest(version)
      if (m.has("cloneSource") && m.has("cloneVersion"))
        Some((m.get("cloneSource").asText, m.get("cloneVersion").asInt))
      else None
    } catch { case NonFatal(_) => None }

  /** Rewrite every EXTERNAL reference into table-local files as one
    * COMPACT-class commit (bytes move, rows don't — the change feed
    * skips it, so a CDF table keeps feeding across the
    * materialization; the retired/constraint/COPY ledgers all carry).
    * No-op (no commit) when the table already owns every byte, which
    * also makes it the idempotent COMPLETION step for a deep clone
    * torn between its two commits. A lost claim re-plans on the
    * winner's head: the re-run reads that snapshot, so nothing the
    * winner committed is dropped. Returns the current version.
    */
  def materializeExternal(): Int = retrying {
    val h = head()
    if (!h.files.exists(VersionedTable.isExternal)) h.v
    else commitData(h.v + 1, "compact", read(h.v), carryForward = Seq.empty)
  }

  /** DEEP clone: the shallow manifest commit plus an immediate
    * [[materializeExternal]] pass that rewrites EVERY reference (any
    * size — plain compaction would carry large files by path) into
    * clone-local files — after it, the clone owns all its bytes and
    * outlives any source vacuum. Two commits by design (v1 shallow,
    * v2 materialize): a crash between them leaves a valid shallow
    * clone, never a torn copy; v1 stays time-travel-readable; and
    * re-running materializeExternal completes the torn form. The copy
    * itself is one distributed pass over the source bytes — exactly
    * the irreducible cost of a deep clone.
    */
  def deepCloneTo(destDir: String, version: Int = -1): VersionedTable = {
    val dest = cloneTo(destDir, version)
    dest.materializeExternal()
    dest
  }

  // ──────────────────────────── branches ────────────────────────────

  private def branchesDir: Path = Paths.get(dir, VersionedTable.BranchesSub)

  private def branchDirOf(name: String): Path = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_-]{0,63}"),
      s"branch name must be a bare identifier: $name")
    branchesDir.resolve(name)
  }

  /** Fork a BRANCH at `version` (default: head) — the git-shaped
    * workflow a 100 TB curation table needs: experiment on a fork,
    * keep the mainline serving, merge row-level when accepted. A
    * branch is a zero-copy shallow clone under the table's own
    * `_graft_branches/<name>` with change tracking ON, so every later
    * branch commit is row-replayable for [[mergeBranch]]. Creation is
    * O(metadata) whatever the table size: the branch references the
    * fork snapshot's files by absolute path, and the parent's vacuums
    * treat files held by live branches as live ([[branchHeldRels]]) —
    * [[dropBranch]] releases them.
    */
  def createBranch(name: String, version: Int = -1): VersionedTable = {
    val bd = branchDirOf(name)
    require(!Files.exists(bd), s"branch $name already exists at $bd")
    require(tagVersion(name).isEmpty,
      s"'$name' is a live tag of this table; tags and branches share " +
        "the VERSION AS OF namespace — pick another name")
    val bt = cloneTo(bd.toString, version)
    bt.enableCdf() // idempotent when the parent already fed the clone
    bt
  }

  /** Open a live branch as a table — every vtable operation works on
    * it (MERGE, DELETE, time travel, its own branches).
    */
  def branch(name: String): VersionedTable = {
    val bd = branchDirOf(name)
    require(Files.isDirectory(bd), s"no branch $name under $dir")
    VersionedTable(spark, bd.toString)
  }

  /** Live branch names (direct children; a branch's own branches are
    * its to list).
    */
  def branchNames: Seq[String] = {
    if (!Files.isDirectory(branchesDir)) return Seq.empty
    val s = Files.list(branchesDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toList.sorted
    } finally s.close()
  }

  /** (name, fork version on this table, branch head version). */
  def branches(): Seq[(String, Int, Int)] =
    branchNames.map { n =>
      val bt = branch(n)
      (n, bt.cloneProvenance(1).map(_._2).getOrElse(-1), bt.currentVersion)
    }

  /** Delete a branch and release its holds on the parent's files. */
  def dropBranch(name: String): Boolean = {
    val bd = branchDirOf(name)
    if (!Files.isDirectory(bd)) false
    else { deleteTree(bd); true }
  }

  /** MERGE a branch back: replay the branch's row-level change feed
    * since its fork point as ONE [[applyChanges]] commit on this
    * table — upserts and deletes together, several branch commits to
    * one key resolved to the branch-latest by the feed's commit
    * version. Cost is O(branch changes + touched files), the
    * stats/bloom-pruned CDC apply; the unchanged bulk carries by
    * path. Returns the new parent version (unchanged when the branch
    * never committed past its fork).
    *
    * Three-way safety: when this table moved past the fork point, the
    * merge REFUSES any branch-touched key this table also touched —
    * row-level conflicts, detected from this table's own change feed
    * since the fork — unless `force = true` lets the branch win. A
    * parent history that is not row-replayable since the fork (change
    * tracking off across a rewriting commit) cannot prove safety and
    * also demands `force`. The branch's schema must match the
    * parent's (evolve the parent first, then rebase).
    */
  def mergeBranch(name: String, key: String, force: Boolean = false,
      dropAfter: Boolean = false): Int = {
    val bt = branch(name)
    val prov = bt.cloneProvenance(1).getOrElse(throw new IllegalStateException(
      s"branch $name carries no fork provenance; was it created by createBranch?"))
    require(prov._1 == Paths.get(dir).toAbsolutePath.normalize.toString,
      s"branch $name was forked from ${prov._1}, not this table")
    val fork = prov._2
    if (bt.currentVersion <= 1) { // nothing committed past the fork
      if (dropAfter) { dropBranch(name); () }
      return currentVersion
    }
    // the branch delta is pinned once (the same single-evaluation pin
    // applyChanges takes); the conflict check and the apply then run
    // as ONE claim: the check reads this table's changes through the
    // exact head the apply claims on top of, so a parent commit landing
    // in between loses the apply its claim and is checked on the retry
    val branchHead = bt.currentVersion
    val delta = bt.readChangesSince(1, branchHead).localCheckpoint()
    val v = retrying {
      val cur = currentVersion
      if (cur > fork && !force) {
        val mineSince =
          try readChangesSince(fork, cur)
          catch {
            case e: VersionedTable.ResyncRequired =>
              throw new IllegalStateException(
                s"cannot prove merge safety: parent history since fork v$fork " +
                  s"is not row-replayable (${e.getMessage}); " +
                  "mergeBranch(force = true) lets the branch win", e)
          }
        val conflicts = mineSince.select(col(key)).distinct()
          .join(delta.select(col(key)).distinct(), Seq(key), "left_semi")
          .limit(10).collect().map(_.get(0))
        if (conflicts.nonEmpty)
          throw new IllegalStateException(
            s"merge conflict: branch $name and the parent both changed key(s) " +
              s"${conflicts.mkString(", ")} since fork v$fork; rebase the " +
              "branch or mergeBranch(force = true) to let the branch win")
      }
      // provenance rides the apply commit's manifest: which branch,
      // which fork version, and which branch-feed version range
      // produced it — DESCRIBE HISTORY surfaces it as op_params,
      // answering "where did these rows come from" after the branch is
      // dropped
      applyCommit(cur, delta, key, VersionedTable.CommitVersionCol,
        VersionedTable.ChangeTypeCol, None, op = "merge_branch",
        extraMeta = Map(
          "branchSource" -> name,
          "branchFork" -> fork.toString,
          "branchFeed" -> s"2..$branchHead"))
    }
    if (dropAfter) { dropBranch(name); () }
    v
  }

  /** Every file a live branch (recursively — branches of branches)
    * still references inside THIS table's directory, as
    * table-relative paths. Both vacuums treat these as live: a
    * branch's fork snapshot must outlive the parent's retention
    * window until the branch is dropped. O(branch manifests) metadata
    * reads; the set is bounded by branch count × files per snapshot.
    */
  private[graft] def branchHeldRels: Set[String] = {
    val root = Paths.get(dir).toAbsolutePath.normalize()
    def heldBy(bt: VersionedTable): Set[String] = {
      val own = bt.listVersions().flatMap { v =>
        // ONLY the concurrent-drop race (manifest vanished between the
        // listing and the read) may be treated as "holds nothing" —
        // any other failure (transient IO, corrupt manifest) must
        // abort the caller's vacuum: this set feeds both vacuums' live
        // sets, and sweeping with incomplete knowledge deletes files a
        // live branch still references
        try bt.fileList(v) catch {
          case _: java.nio.file.NoSuchFileException => Seq.empty
          case _: java.io.FileNotFoundException => Seq.empty
        }
      }.filter(VersionedTable.isExternal)
        .map(p => Paths.get(p).toAbsolutePath.normalize())
        .filter(_.startsWith(root))
        .map(p => root.relativize(p).toString)
        .toSet
      own ++ bt.branchNames.flatMap(n => heldBy(bt.branch(n)))
    }
    branchNames.flatMap(n => heldBy(branch(n))).toSet
  }

  // ──────────────────────────── tags ────────────────────────────

  private def tagsDir: Path = Paths.get(dir, VersionedTable.TagsSub)

  private def tagFileOf(name: String): Path = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_.-]{0,63}"),
      s"tag name must be a bare identifier: $name")
    tagsDir.resolve(name + ".json")
  }

  /** Pin an immutable TAG at `version` (default: head) — Iceberg's
    * named-reference idiom minus writability: where a branch is a
    * live fork, a tag is a durable (name → version) PIN ("the
    * v2026-08 training snapshot") that `VERSION AS OF 'name'` reads
    * and [[vacuum]] respects — a tagged version's manifest and data
    * files stay live past any retention window until [[dropTag]].
    * O(1) metadata: one small JSON file, created with CREATE_NEW so a
    * tag can never be silently re-pointed (drop + create is the
    * explicit re-pin, and the two-step is visible in the directory's
    * mtimes). The name must not collide with a live branch — both
    * resolve through the same `VERSION AS OF 'name'` surface.
    *
    * A tag pins its OWN snapshot, not the feed above it: the change
    * window `table_changes(t, 'tag')` additionally needs every
    * manifest BETWEEN the tag and head, which ordinary retention
    * governs — after a vacuum drops intermediate versions, a since-tag
    * window raises the guided [[VersionedTable.ResyncRequired]] (the
    * tag itself still reads). Consumers replaying from a tag on a
    * schedule should hold a feed lease ([[registerFeedLease]], what
    * the streaming CDF source does) or size `retainVersions`; pinning
    * the whole post-tag history under every tag would quietly turn
    * one forgotten tag into an unbounded retention leak — the loud
    * resync is the deliberate choice.
    */
  def createTag(name: String, version: Int = -1, message: String = ""): Int = {
    val v = if (version < 0) currentVersion else version
    require(v > 0, s"table at $dir has no committed version to tag")
    require(!branchNames.contains(name),
      s"'$name' is a live branch of this table; tags and branches share " +
        "the VERSION AS OF namespace — pick another name")
    manifest(v) // proof the pinned version is readable (not vacuumed away)
    Files.createDirectories(tagsDir)
    // Jackson renders the body so a message with quotes/backslashes
    // can never tear the pin file (Iceberg's snapshot-summary idiom:
    // "why was this version blessed" travels with the pin)
    val node = mapper.createObjectNode()
    node.put("version", v)
    node.put("ts", System.currentTimeMillis())
    if (message.nonEmpty) node.put("message", message)
    val body = mapper.writeValueAsString(node)
    try Files.write(tagFileOf(name),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"tag $name already exists (tags are immutable — " +
            "DROP TAG first to re-pin)")
    }
    v
  }

  /** The version a tag pins, if the tag exists. A name outside the
    * tag grammar is simply NOT A TAG (None — the named-ref resolvers
    * probe arbitrary user strings through here and must fall through
    * to their own unknown-ref guidance, not a validator's raise), and
    * a file dropped between the probe and the read reads as absent —
    * the same concurrent-drop tolerance [[tags]] has.
    */
  def tagVersion(name: String): Option[Int] = {
    if (!name.matches("[A-Za-z_][A-Za-z0-9_.-]{0,63}")) return None
    val p = tagsDir.resolve(name + ".json")
    try {
      if (!Files.isRegularFile(p)) None
      else Some(mapper.readTree(Files.readAllBytes(p)).get("version").asInt)
    } catch { case _: java.io.IOException => None }
  }

  def tagNames: Seq[String] = {
    if (!Files.isDirectory(tagsDir)) return Seq.empty
    val s = Files.list(tagsDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).toList.sorted
    } finally s.close()
  }

  /** (name, pinned version, created-at epoch millis, message — empty
    * when the pin carries none) per live tag.
    */
  def tags(): Seq[(String, Int, Long, String)] =
    tagNames.flatMap { n =>
      val p = tagsDir.resolve(n + ".json")
      try {
        val j = mapper.readTree(Files.readAllBytes(p))
        Some((n, j.get("version").asInt,
          if (j.has("ts")) j.get("ts").asLong else 0L,
          if (j.has("message")) j.get("message").asText else ""))
      } catch {
        // concurrently dropped between the listing and the read
        case _: java.io.IOException => None
      }
    }

  /** Release a tag's pin; the next vacuum may reclaim the version. */
  def dropTag(name: String): Boolean =
    Files.deleteIfExists(tagFileOf(name))

  /** Versions pinned live by tags — [[vacuum]] keeps their manifests
    * (and thereby their files) out of the drop set, the same liveness
    * promise [[branchHeldRels]] makes for branch-referenced bytes.
    */
  private[graft] def taggedVersions: Set[Int] = tags().map(_._2).toSet

  /** Partition-pruned copy-on-write MERGE (update matched keys, insert
    * new ones — `Merge.upsert` semantics incl. the duplicate-source
    * and null-key raises). Only snapshot files whose per-file [min,max]
    * of `key` intersects the update set's key range are read and
    * rewritten; disjoint files are carried forward by path, untouched.
    * Soundness: a matched key lies inside both its file's range and
    * the update range, so a range-disjoint file cannot contain a
    * match, and inserts land in the rewritten output. Files without
    * stats count as touched (correct, just not pruned), and so do
    * files whose stats flag null keys — min/max ignore nulls, so
    * without that rule a range-pruned file could carry a null-keyed
    * snapshot row past the upsert's null-key raise, firing it
    * nondeterministically depending on which files the update range
    * happened to touch.
    */
  def merge(updates0: DataFrame, key: String): Int = {
    // the pruning-bounds job and the rewrite below MUST see one
    // evaluation of the caller's frame: a non-deterministic input
    // (sample/rand/unordered limit) re-evaluating differently would
    // compute bounds from keys the rewrite never sees, so a carried
    // (pruned) file could keep a stale row for a key the second
    // evaluation updates. localCheckpoint pins it — and makes the
    // bounds job a cache read instead of a second full evaluation.
    // Pinned ONCE, outside the race-retry loop: every re-attempt
    // re-applies the same update set to the fresh snapshot.
    val updates = updates0.localCheckpoint()
    retrying(upsertCommit(updates, key, None))
  }

  /** One claim of [[merge]] on the current head. */
  private def upsertCommit(updates: DataFrame, key: String, epoch: Option[Long]): Int = {
    val h = head()
    requireSchemaMatch(updates, h.m, "merge")
    val keyType = updates.schema(key).dataType
    val b = updates.agg(count(lit(1)).as("n"),
      min(col(key)).as("lo"), max(col(key)).as("hi")).head()
    // an empty update set is a visible no-op commit
    commitRewrite(h, "merge", Option.when(b.getLong(0) > 0) {
      // bloom refinement as in delete(); null-flagged files stay
      // touched regardless (the null-raise coverage rule above bloom's
      // pay grade), and all-null keys touch everything (upsert raises)
      val (touched, untouched) = pruneKeys(h, updates, key, keyType, b.get(1), b.get(2),
        mustTouch = f => b.isNullAt(1) || statMayHaveNulls(h.stats.get(f), key))
      val base =
        if (touched.nonEmpty) readFiles(h.m, touched)
        else emptySnapshot(h.m)
      // CDF from the TOUCHED files only — sound because a carried file
      // is range-disjoint from the update keys, so it cannot hold a
      // matched row. Assumes key-unique snapshots (the SQL MERGE
      // precondition upsert's dup-source raise enforces on the update
      // side)
      Rewrite(Merge.upsert(base, updates, key), untouched,
        Option.when(cdfEnabled)(upsertChanges(base, updates, key)))
    }, epoch)
  }

  /** Row-level changes (CDF) of upserting `upserts` over `base` by
    * `key`: matched keys emit a preimage and a postimage, new keys an
    * insert.
    */
  private def upsertChanges(base: DataFrame, upserts: DataFrame, key: String): DataFrame = {
    val ct = VersionedTable.ChangeTypeCol
    val baseKeys = base.select(col(key)).distinct()
    keyed(base, upserts.select(col(key)).distinct(), key, "left_semi")
      .withColumn(ct, lit("update_preimage"))
      .unionByName(upserts.join(baseKeys, Seq(key), "left_semi")
        .withColumn(ct, lit("update_postimage")))
      .unionByName(upserts.join(baseKeys, Seq(key), "left_anti")
        .withColumn(ct, lit("insert")))
  }

  /** `base` semi/anti-joined with `keys` on `key`, in `base`'s column
    * order: a USING join hoists the key column to the front, and a
    * rewrite on a non-leading key must not reorder the table's schema.
    */
  private def keyed(base: DataFrame, keys: DataFrame, key: String,
      how: String): DataFrame =
    base.join(keys, Seq(key), how).select(base.columns.map(col).toSeq: _*)

  /** Epoch-idempotent streaming UPSERT — the CDC-apply form of
    * [[appendEpoch]]: each micro-batch MERGEs by key (update matched,
    * insert new), with the commit keyed by the epoch id so a batch
    * re-delivered after a crash is skipped whole. At-least-once batch
    * delivery × epoch-keyed commit = each batch's upsert applied
    * exactly once. Pruning (stats + bloom, per-era hashes), CDF
    * emission, and the null-key raise are [[merge]]'s own; lost OCC
    * races against maintenance commits retry on the fresh snapshot,
    * re-checking the epoch first (a duplicate delivery that lost to
    * its twin is absorbed, not double-applied). Same single-writer
    * assumption as appendEpoch: one streaming query per table.
    */
  def mergeEpoch(updates0: DataFrame, key: String, epochId: Long): Option[Int] = {
    // same single-evaluation pin as merge(): bounds and rewrite must
    // agree on the update set across retries
    val updates = updates0.localCheckpoint()
    retrying {
      if (lastCommittedEpoch.exists(_ >= epochId)) None
      else Some(upsertCommit(updates, key, Some(epochId)))
    }
  }

  /** APPLY CHANGES INTO — the CDC-replica primitive: ONE copy-on-write
    * commit applying a change batch that mixes upserts and DELETEs
    * (`changeTypeCol` ∈ insert | update_postimage | update_preimage |
    * delete; preimages are informational and dropped). Several changes
    * to one key resolve to the one with the highest `orderBy` value —
    * the CDC sequence; for this engine's own change feed that is
    * `_commit_version` — and the key's final state is that change: a
    * delete drops it, anything else upserts the row. After resolution
    * upserts project to the COMMITTED schema (metadata columns — the
    * change type, `_commit_version`, a feed's extras — fall away).
    * Pruning is MERGE/DELETE's: only files whose stats/bloom admit
    * some affected key are rewritten, per-era hashes included —
    * O(touched files + batch), never O(table). NULL change keys raise
    * (a CDC bug); NULL-keyed snapshot rows are always retained (SQL
    * join semantics, as in DELETE). On an EMPTY table the batch's
    * upserts become the seeding append (a replica's first backfill)
    * and its deletes are vacuous. The replica-convergence property —
    * applying a table's own change feed reproduces its snapshot
    * exactly — is CdfStreamSpec's apply test.
    */
  def applyChanges(changes0: DataFrame, key: String, orderBy: String,
      changeTypeCol: String = VersionedTable.ChangeTypeCol,
      op: String = "apply",
      extraMeta: Map[String, String] = Map.empty): Int = {
    // same single-evaluation pin as merge/delete
    val changes = changes0.localCheckpoint()
    retrying(applyCommit(currentVersion, changes, key, orderBy, changeTypeCol,
      None, op, extraMeta))
  }

  /** [[applyChanges]] keyed by a streaming epoch: a batch re-delivered
    * after a crash skips whole — [[graft.streaming.VTableApplySink]]'s
    * exactly-once contract (same shape as [[mergeEpoch]]).
    */
  def applyChangesEpoch(changes0: DataFrame, key: String, orderBy: String,
      epochId: Long,
      changeTypeCol: String = VersionedTable.ChangeTypeCol): Option[Int] = {
    val changes = changes0.localCheckpoint()
    retrying {
      if (lastCommittedEpoch.exists(_ >= epochId)) None
      else Some(applyCommit(currentVersion, changes, key, orderBy, changeTypeCol,
        Some(epochId)))
    }
  }

  /** One claim of [[applyChanges]] planned against version `v` (the
    * caller's head read), claiming v+1.
    */
  private def applyCommit(v: Int, changes: DataFrame, key: String, orderBy: String,
      changeTypeCol: String, epoch: Option[Long], op: String = "apply",
      extraMeta: Map[String, String] = Map.empty): Int = {
    Seq(key, orderBy, changeTypeCol).foreach(c =>
      require(changes.columns.contains(c), s"apply: change batch lacks column $c"))
    // resolve each key to its LATEST change. Ties on orderBy are a
    // feed bug (one sequence value, two changes); broken by change
    // type so replays at least resolve identically
    val latest = changes
      .filter(col(changeTypeCol) =!= "update_preimage")
      .withColumn("__graft_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(key)
          .orderBy(col(orderBy).desc, col(changeTypeCol))))
      .filter(col("__graft_rn") === 1).drop("__graft_rn")
    if (v == 0) {
      // seeding a fresh replica: the first batch's upserts ARE the
      // table; FEED metadata falls away — the change-type column, this
      // engine's commit-version column, AND the feed's own sequence
      // column (a foreign CDC feed's custom orderBy is ordering
      // metadata exactly like CommitVersionCol; baking it into the
      // seeded schema would diverge the replica from its source, since
      // every later batch projects upserts to the committed schema and
      // so would never carry it again). orderBy == key is the one
      // exception: the key is data by necessity. Deletes are vacuous
      // (nothing exists to delete yet).
      val drop = Set(changeTypeCol, VersionedTable.CommitVersionCol) ++
        (if (orderBy != key) Set(orderBy) else Set.empty)
      val seeded = latest.filter(col(changeTypeCol) =!= "delete")
        .select(changes.columns.filterNot(drop).map(col).toSeq: _*)
      return commitData(1, "append", seeded, Seq.empty, Map.empty, epoch,
        extraMeta = extraMeta)
    }
    val h = head(v)
    val committed = h.schema.filter(_.fields.nonEmpty)
      .getOrElse(throw new IllegalStateException(
        s"apply: table at $dir carries no committed schema"))
    val upserts = latest.filter(col(changeTypeCol) =!= "delete")
      .select(committed.fields.toSeq.map(f => col(f.name)): _*)
    requireSchemaMatch(upserts, h.m, "apply")
    val allKeys = latest.select(col(key))
    val b = allKeys.agg(count(lit(1)).as("n"),
      min(col(key)).as("lo"), max(col(key)).as("hi"),
      count(col(key)).as("nn")).head()
    // an empty batch is a visible no-op commit (its epoch recorded)
    commitRewrite(h, op, Option.when(b.getLong(0) > 0) {
      require(b.getLong(3) == b.getLong(0),
        s"apply: null $key in change batch (a CDC feed bug — null keys can't merge)")
      val (touched, untouched) =
        pruneKeys(h, allKeys, key, committed(key).dataType, b.get(1), b.get(2))
      val base =
        if (touched.nonEmpty) readFiles(h.m, touched)
        else emptySnapshot(h.m)
      // affected keys leave (anti-join), upserted keys return with
      // their final row — deleted keys simply don't. Key-uniqueness of
      // the upsert side is by construction (the row_number resolution)
      val delKeys = latest.filter(col(changeTypeCol) === "delete")
        .select(col(key)).distinct()
      Rewrite(keyed(base, allKeys.distinct(), key, "left_anti").unionByName(upserts),
        untouched,
        Option.when(cdfEnabled)(upsertChanges(base, upserts, key)
          .unionByName(keyed(base, delKeys, key, "left_semi")
            .withColumn(VersionedTable.ChangeTypeCol, lit("delete")))))
    }, epoch, extraMeta)
  }

  /** Stats-pruned copy-on-write DELETE by key set: drop every snapshot
    * row whose `key` appears in `keys`. Same pruning as MERGE — only
    * files whose recorded key range intersects the delete set's range
    * are rewritten (via anti-join); disjoint files are carried forward
    * by path — if the delete frame's key type doesn't match the
    * committed column's, pruning is disabled entirely (see the inline
    * note). NULL keys follow SQL join semantics: a NULL never matches,
    * so NULL-keyed rows are always retained (correct even in pruned
    * files — unlike merge, no null raise exists to preserve) and NULL
    * delete keys delete nothing.
    */
  def delete(keys0: DataFrame, key: String): Int = {
    // same single-evaluation pin as merge: bounds and anti-join must
    // agree on the delete set even for non-deterministic frames
    val keys = keys0.localCheckpoint()
    retrying {
      val h = head()
      val keyType = keys.schema(key).dataType
      // Pruning compares the delete set's bounds against per-file stats
      // recorded in the COMMITTED column's domain. If the caller's key
      // frame carries a different type (say string keys against a long
      // column), that comparison is meaningless — "09" fails the
      // byte-order test against a file with min=max=9 — while the
      // anti-join below still matches the row under its implicit cast.
      // A type mismatch therefore disables pruning (every file counts
      // as touched) instead of risking silently-surviving rows.
      val prunable = h.schema.flatMap(_.fields.find(_.name == key))
        .forall(_.dataType == keyType)
      val b = keys.agg(count(col(key)).as("n"),
        min(col(key)).as("lo"), max(col(key)).as("hi")).head()
      // point-lookup refinement: with a bloom index on the key and a
      // small delete set, files the filter proves key-free are carried
      // even when their [min,max] range overlaps (the uuid-key case
      // where ranges never prune). An empty (or all-NULL) delete set,
      // or one no file can hold, is a visible no-op commit
      val pruned = Option.when(b.getLong(0) > 0)(
        pruneKeys(h, keys, key, keyType, b.get(1), b.get(2), prunable))
      commitRewrite(h, "delete", pruned.filter(_._1.nonEmpty).map { case (touched, untouched) =>
        val base = readFiles(h.m, touched)
        val keysD = keys.select(col(key)).distinct()
        // CDF: the deleted rows are exactly the semi-join complement of
        // the kept rows — same join, same implicit-cast semantics, so
        // the change feed can never disagree with what the rewrite dropped
        Rewrite(keyed(base, keysD, key, "left_anti"), untouched,
          Option.when(cdfEnabled)(keyed(base, keysD, key, "left_semi")
            .withColumn(VersionedTable.ChangeTypeCol, lit("delete"))))
      })
    }
  }

  /** Per-build-type probe hash sets of a small DELETE/MERGE key set
    * (as `(defaultTag, tag → hashes)` for [[bloomAdmits]]), or None
    * when bloom probing doesn't apply (no index on the key, key-type
    * mismatch, or a key set past [[VersionedTable.MaxBloomProbeKeys]]).
    * One bounded collect of the raw keys, then driver-side hashing
    * per sidecar build type present in the snapshot — files filtered
    * before a type widening are probed with their own era's hashes.
    * Key types outside the widening-capable stats domain (timestamp,
    * …) keep the old single-era Spark-job hash: they can never have
    * widened, so the committed-type hash is the build hash.
    */
  private def deleteProbeHashes(keys: DataFrame, key: String, prunable: Boolean,
      stats: Map[String, JsonNode]): Option[(String, Map[String, Array[Long]])] = {
    if (!prunable || !bloomConfig.exists(_.columns.contains(key))) return None
    val cap = VersionedTable.MaxBloomProbeKeys
    val defaultTag = VersionedTable.typeTag(keys.schema(key).dataType)
    val tags = stats.valuesIterator
      .flatMap(n => Option(n.get(s"__bt_$key")).map(_.asText)).toSet + defaultTag
    if (VersionedTable.tagType(defaultTag).isEmpty) {
      // non-widenable key type: hash in one tiny Spark job, exactly
      // the committed type (= every sidecar's build type)
      import org.apache.spark.sql.functions.xxhash64
      val hs = keys.where(col(key).isNotNull)
        .select(xxhash64(col(key)).as("h")).distinct()
        .limit(cap + 1).collect().map(_.getLong(0))
      return if (hs.length > cap) None else Some((defaultTag, Map(defaultTag -> hs)))
    }
    val vs = keys.where(col(key).isNotNull).select(col(key)).distinct()
      .limit(cap + 1).collect().map(_.get(0)).toSeq
    if (vs.length > cap) return None
    val byTag = tags.iterator.flatMap { tag =>
      VersionedTable.tagType(tag)
        .flatMap(bt => VersionedTable.probeHashes(vs, bt)).map(tag -> _)
    }.toMap
    Some((defaultTag, byTag))
  }

  /** Predicate DELETE — the retention/TTL path (`DELETE WHERE
    * ts < cutoff`, GDPR erasure by attribute, …). Files whose
    * committed stats PROVE no row can satisfy the predicate's simple
    * conjuncts (the same [[DataSkipping]] contract as `readWhere`)
    * are carried forward untouched; only overlapping files are read
    * and rewritten. On a retention sweep over a time-clustered 100 TB
    * table that is O(expiring files), not O(table). Unrecognized
    * conjunct shapes prune nothing (every file counts as touched) —
    * pruning only ever removes provably-dead rewrites.
    *
    * SQL DELETE semantics: a row is deleted only where the predicate
    * is TRUE — NULL-valued predicates keep the row (the coalesce
    * below pins that even for three-valued conditions).
    */
  def deleteWhere(condition: Column): Int = retrying {
    val h = head()
    val (touched, untouched) = prunePredicate(h, condition)
    // nothing can match: a visible no-op commit
    commitRewrite(h, "delete", Option.when(touched.nonEmpty) {
      val base = readFiles(h.m, touched)
      val hit = coalesce(condition, lit(false))
      Rewrite(base.filter(!hit), untouched, Option.when(cdfEnabled)(
        base.filter(hit).withColumn(VersionedTable.ChangeTypeCol, lit("delete"))))
    })
  }

  /** Predicate OVERWRITE — Delta's `replaceWhere`: atomically delete
    * every row matching `condition` AND land `df`, as ONE commit —
    * the idempotent "rebuild this slice" primitive (re-land a day's
    * partition, recompute one source's shard). Two separate
    * delete+append commits cannot give it: a reader between them sees
    * the slice missing, and a crash between them loses it. Same
    * [[DataSkipping]] prune as [[deleteWhere]] — only files whose
    * stats may hold matching rows rewrite; everything else carries
    * forward with its stats. Every INCOMING row must satisfy the
    * predicate (a task-side raise_error guard, zero extra pass) —
    * anything else would smuggle out-of-slice rows into an operation
    * that claims to replace the slice; Delta enforces the same. The
    * condition must be UNRESOLVED (built from `col(...)`/`expr(...)`)
    * so it can bind to both the table scan and the incoming frame.
    * CDF: deletes for the replaced rows, inserts for the new ones, in
    * the same commit.
    */
  def replaceWhere(condition: Column, df: DataFrame): Int = retrying {
    val h = head()
    requireSchemaMatch(df, h.m, "replaceWhere")
    val hit = coalesce(condition, lit(false))
    // in-slice guard on the INCOMING rows, task-side: wrap the first
    // column so a violating row kills the write before the commit
    // (same raise_error discipline as the MERGE guards)
    val c0 = df.columns.head
    val guarded = df.withColumn(c0,
      when(!hit, org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.format_string(
          "replaceWhere: incoming row falls outside the replaced slice " +
            "(predicate is false/NULL for it); fix the source or widen " +
            "the predicate [%s]", lit(condition.toString))))
        .otherwise(col(c0)))
    val (touched, untouched) = prunePredicate(h, condition)
    val kept =
      if (touched.isEmpty) guarded // no stored row can match: pure add
      else readFiles(h.m, touched).filter(!hit).unionByName(guarded)
    val changes = Option.when(cdfEnabled) {
      val dels =
        if (touched.isEmpty) None
        else Some(readFiles(h.m, touched).filter(hit)
          .withColumn(VersionedTable.ChangeTypeCol, lit("delete")))
      val ins = df.withColumn(VersionedTable.ChangeTypeCol, lit("insert"))
      dels.fold(ins)(_ unionByName ins)
    }
    commitRewrite(h, "replace", Some(Rewrite(kept, untouched, changes)))
  }

  /** Predicate UPDATE — `UPDATE SET col = expr WHERE condition` as a
    * copy-on-write rewrite, the companion to [[deleteWhere]] with the
    * same [[DataSkipping]] pruning: files whose stats prove no row
    * matches keep their bytes (and their stats) untouched. Assignments
    * apply only where the condition is TRUE (three-valued: NULL keeps
    * the old value), evaluate against the ROW'S OLD VALUES (standard
    * SQL UPDATE — an assignment referencing an assigned column sees
    * the pre-update value), and may only target existing columns (no
    * silent schema drift through an UPDATE).
    */
  def updateWhere(condition: Column, assignments: Map[String, Column]): Int = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    retrying {
      val h = head()
      val (touched, untouched) = prunePredicate(h, condition)
      commitRewrite(h, "update", Option.when(touched.nonEmpty) {
        val base = readFiles(h.m, touched)
        val bad = assignments.keySet -- base.columns.toSet
        require(bad.isEmpty, s"UPDATE targets unknown column(s): ${bad.toSeq.sorted.mkString(", ")}")
        val hit = coalesce(condition, lit(false))
        // one projection: every assignment branches on the SAME condition
        // over the same input row — old values on both sides of each when
        val updated = base.select(base.columns.toSeq.map { c =>
          assignments.get(c) match {
            case Some(e) => when(hit, e).otherwise(col(c)).as(c)
            case None    => col(c)
          }
        }: _*)
        // when() unifies branch types, so a widening assignment (double
        // into a long column) would silently change the schema of the
        // REWRITTEN files only — mixed-schema corruption. Make it loud;
        // an explicit cast in the assignment is the sanctioned path.
        assignments.keys.foreach { c =>
          val (was, now) = (base.schema(c).dataType, updated.schema(c).dataType)
          require(was == now,
            s"UPDATE would change $c from $was to $now; cast the assignment explicitly")
        }
        // CDF: pre/postimages of exactly the hit rows. The postimage
        // applies assignments to rows filtered on their OLD values — an
        // assignment that flips the condition column must not drop the
        // row from the feed (filtering `updated` on the condition would).
        // The cast is a no-op by the type guard above; it only pins the
        // raw assignment expression (whose type when() would otherwise
        // unify) to the table's column type.
        val changes = Option.when(cdfEnabled) {
          val ct = VersionedTable.ChangeTypeCol
          val hits = base.filter(hit)
          hits.withColumn(ct, lit("update_preimage"))
            .unionByName(hits.select(base.columns.toSeq.map { c =>
              assignments.get(c) match {
                case Some(e) => e.cast(base.schema(c).dataType).as(c)
                case None    => col(c)
              }
            }: _*).withColumn(ct, lit("update_postimage")))
        }
        Rewrite(updated, untouched, changes)
      })
    }
  }

  /** Bin-pack small files into ~`targetBytes` outputs — the companion
    * every streaming-fed table needs (each epoch commits one small
    * file; unchecked, scans degrade to per-file task overhead). Files
    * already ≥ `targetBytes` are carried forward untouched, small ones
    * are read once and rewritten as ceil(total/target) files.
    * Clustering (Delta's OPTIMIZE ... ZORDER):
    *   - one `clusterBy` column → range-partitioned on it, so the
    *     compacted files get tight disjoint min/max stats and later
    *     MERGE/DELETE pruning actually bites;
    *   - two columns → range-partitioned on the Z-order (Morton)
    *     interleave of both, each normalized to 32 bits via its global
    *     min/max (one agg job) — a lexicographic sort only bounds the
    *     leading column's per-file range; the Z-curve keeps BOTH
    *     tight, so stat pruning works on either column. Numeric
    *     columns cluster on their value, string columns on a
    *     byte-order-preserving 4-byte UTF-8 prefix (a weak key only
    *     loosens clustering — stats come from real values, so
    *     skipping stays sound).
    * Data is unchanged; old versions stay readable. Returns the
    * current version unchanged when there is nothing to compact (no
    * empty commits from maintenance loops).
    */
  def compact(targetBytes: Long = 128L << 20, clusterBy: Seq[String] = Seq.empty,
      where: Option[Column] = None): Int =
    // maintenance racing a writer re-plans against the fresh snapshot
    // (the file set it bin-packed just changed underneath it)
    retrying {
      val h = head()
      // SELECTIVE compaction (Delta's OPTIMIZE ... WHERE): restrict the
      // bin-pack to files whose stats MAY hold matching rows — the
      // 100 TB maintenance shape, where "compact yesterday's ingest"
      // must not consider (let alone rewrite) the settled bulk of a
      // time-clustered table.
      val candidates = where.fold(h.files)(prunePredicate(h, _)._1)
      val candidateSet = candidates.toSet
      val sized = candidates.map(f => f -> Files.size(dataFsPath(f)))
      val (small, largeInSlice) = sized.partition(_._2 < targetBytes)
      // carried paths only — no fabricated sizes for out-of-slice files
      val carried = largeInSlice.map(_._1) ++ h.files.filterNot(candidateSet)
      if (small.size <= 1) h.v // nothing to pack: no commit
      else {
        val nOut = math.max(1, math.ceil(small.map(_._2).sum.toDouble / targetBytes).toInt)
        commitRewrite(h, "compact", Some(Rewrite(
          packed(readFiles(h.m, small.map(_._1)), nOut, clusterBy), carried)))
      }
    }

  /** `base` repacked into `nOut` files, clustered on `clusterBy` (see
    * [[compact]]).
    */
  private def packed(base: DataFrame, nOut: Int, clusterBy: Seq[String]): DataFrame =
    clusterBy match {
      case Seq()  => base.coalesce(nOut)              // shuffle-free bin-pack
      case Seq(c) => base.repartitionByRange(nOut, col(c))
      case many if many.length > 4 => throw new IllegalArgumentException(
        s"ZORDER BY ${many.length} columns: beyond 4 dimensions each " +
          "dimension keeps too few interleaved bits to cluster usefully " +
          "(63/n bits per dim) — cluster on the leading dimensions instead")
      case dims => // 2-4 dimensions: equal-frequency range ids, interleaved
        // normalize each cluster key to an EQUAL-FREQUENCY range id
        // (Delta's ZORDER recipe), then Morton-interleave — zvalue
        // (2 dims, full 32 bits each) / zvalue_n (3-4 dims, 63/n bits
        // each) are codegen'd native expressions. Min/max scaling
        // breaks on skewed or discrete dimensions (three langs near
        // the min and one at the max all land in the same z-slab);
        // quantile cut points split the z-space evenly whatever the
        // distribution. Numeric columns key on their value; string
        // columns on their first-4-UTF-8-bytes prefix as an unsigned
        // int (byte-order-preserving for the prefix). A weak key can
        // only loosen the clustering: per-file stats are recorded
        // from the REAL values afterward, so skipping stays sound
        // whatever the key does.
        def clusterKey(c: String): Column = base.schema(c).dataType match {
          case StringType =>
            // LEFT-aligned 4-byte prefix: a short string shifts its
            // bytes to the top ("z" → 0x7A000000), preserving UTF-8
            // byte order against longer strings — the unshifted int
            // would rank "z" (0x7A) below "bbbb" (0x62626262)
            org.apache.spark.sql.functions.expr(
              s"shiftleft(cast(conv(hex(substring(cast(`$c` AS binary), 1, 4)), 16, 10) AS bigint), " +
                s"(4 - least(length(substring(cast(`$c` AS binary), 1, 4)), 4)) * 8)")
          case _: NumericType => col(c)
          case other => throw new IllegalArgumentException(
            s"compact clusterBy needs a numeric or string column, $c is ${other.simpleString}")
        }
        val zcols = dims.indices.map(i => s"__graft_z$i")
        val staged = dims.zip(zcols).foldLeft(base) { case (df, (c, zc)) =>
          df.withColumn(zc, clusterKey(c).cast("double"))
        }
        val probs = (1 until VersionedTable.ZBuckets)
          .map(_.toDouble / VersionedTable.ZBuckets).toArray
        // one sampling pass for every dimension's cut points
        val cuts = staged.stat.approxQuantile(zcols.toArray, probs, 0.001)
        // each dim keeps bitsPer bits: 32 on the proven 2-dim path
        // (zvalue spreads full 32-bit ids), 63/n beyond
        val bitsPer = if (dims.length == 2) 32 else 63 / dims.length
        def rangeId(k: Column, dimCuts: Array[Double]): Column = {
          // bucket index = #cuts below the value (codegen'd indicator
          // sum; nulls contribute nothing and share bucket 0), placed
          // at i × 2^bitsPer/n over the DISTINCT cut count — a low-
          // cardinality dimension (4 langs → 4 buckets at 00,01,10,11
          // in the top bits) must vary the TOP z-bits exactly evenly
          // or the interleave degrades to single-column ordering. The
          // clamp folds the open top bucket of a continuous dimension
          // into the highest cut's bucket, keeping every id < 2^bitsPer.
          val cs = dimCuts.distinct
          val n = math.max(1, cs.length)
          val id = cs.foldLeft(lit(0L))((acc, c) =>
            acc + when(k > lit(c), 1L).otherwise(0L))
          least(id, lit(n - 1L)) * lit((1L << bitsPer) / n)
        }
        graft.functions.GraftFunctions.register(spark) // idempotent
        val ids = zcols.zip(cuts).map { case (zc, dimCuts) =>
          rangeId(col(zc), dimCuts)
        }
        val zkey =
          if (dims.length == 2)
            graft.functions.GraftFunctions.zvalue(ids(0), ids(1))
          else graft.functions.GraftFunctions.zvalueN(ids: _*)
        staged.repartitionByRange(nOut, zkey).drop(zcols: _*)
    }

  /** Most recent committed stream epoch: the max of (a) a backward
    * manifest walk — O(1) on a stream-fed table, the newest commit is
    * a stream append — and (b) the durable `_last_epoch` pointer,
    * which survives the manifests that carried the epoch being
    * vacuumed away after maintenance commits (without it, a replayed
    * micro-batch after compact+vacuum would re-append: an
    * exactly-once hole).
    */
  def lastCommittedEpoch: Option[Long] = {
    def walk: Option[Long] = {
      var v = currentVersion
      while (v > 0) {
        val m =
          try manifest(v)
          catch { case _: java.io.IOException => return None } // below the vacuum horizon
        if (m.has("epoch")) return Some(m.get("epoch").asLong)
        v -= 1
      }
      None
    }
    (walk.toSeq ++ pointerEpoch.toSeq).maxOption
  }

  /** Epoch recorded by the CURRENT manifest chain — content coverage,
    * NOT the monotonic stream high-water: a restore rewinds this to
    * the restored version's carried epoch (or clears it when the
    * restored state predates any epoch), where [[lastCommittedEpoch]]
    * deliberately never rewinds (replay protection). Incremental
    * consumers asking "what source version does this CONTENT cover"
    * (MaterializedView) must read this one — reading the monotonic
    * mark across a restore would skip the rewound-away source rows
    * forever.
    */
  def contentEpoch: Option[Long] = {
    var v = currentVersion
    while (v > 0) {
      val m =
        try manifest(v)
        catch { case _: java.io.IOException => return None } // below the vacuum horizon
      if (m.has("epoch")) return Some(m.get("epoch").asLong)
      // a restore without an epoch rewound to pre-coverage content —
      // walking past it would resurrect the pre-restore coverage
      if (Option(m.get("op")).exists(_.asText() == "restore")) return None
      v -= 1
    }
    None
  }

  /** Epoch-idempotent streaming append — the foreachBatch contract:
    * Structured Streaming re-delivers a batch after a crash with the
    * SAME epoch id, so the commit is keyed by it. An epoch at or below
    * the last committed one is a replay and is skipped (returns None),
    * making the sink exactly-once on top of at-least-once batch
    * delivery. Assumes one streaming query per table — epoch ids are
    * monotonic per query, which is what makes ≤ a replay test.
    */
  def appendEpoch(df: DataFrame, epochId: Long): Option[Int] =
    // a racing commit that took our version is either a duplicate
    // delivery of this epoch (absorbed by the re-check) or a
    // commutable race — a maintenance compact, a concurrent batch
    // append — retried on the fresh snapshot like blind append, instead
    // of failing (and replaying) the whole micro-batch
    retrying {
      if (lastCommittedEpoch.exists(_ >= epochId)) None
      else Some(blindAppend(df, "stream-append", Some(epochId)))
    }

  /** Incremental consumption (change-data-feed, append-only form):
    * the rows landed by append/stream-append commits AFTER `sinceVersion`,
    * resolved as a manifest file-set diff — no full-table rescan, cost
    * proportional to the new data. Fails fast if any intervening
    * commit rewrote files (overwrite/merge/delete/compact): those are
    * copy-on-write, so "what changed" is no longer identifiable at the
    * file level and the consumer must re-read the snapshot (the same
    * contract Delta's CDF has without per-row change tracking).
    * `untilVersion` pins the window's UPPER bound (default: the live
    * current version) — a consumer that records "covered through v"
    * must pass the v it records, or a commit racing the read would be
    * consumed now yet re-delivered next time.
    */
  def readAppendsSince(sinceVersion: Int, untilVersion: Int = -1): DataFrame = {
    val cur = if (untilVersion == -1) currentVersion else untilVersion
    require(cur > 0, s"table at $dir has no committed version")
    require(untilVersion == -1 || untilVersion <= currentVersion,
      s"version $untilVersion not committed (current $currentVersion)")
    require(sinceVersion >= 0 && sinceVersion <= cur,
      s"version $sinceVersion out of range (upper bound $cur)")
    // each manifest is read exactly once; one vacuumed away inside the
    // window surfaces as the documented resync signal. ONLY absence is
    // translated — a torn/corrupt manifest is a different fault and
    // must propagate as the parse error it is
    def readManifest(v: Int): JsonNode =
      try manifest(v)
      catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
          throw new VersionedTable.ResyncRequired(
            s"version $v of $dir is below the vacuum horizon; re-read the snapshot")
      }
    val mCur = readManifest(cur)
    if (sinceVersion == cur) return emptySnapshot(mCur)
    val baseFiles =
      if (sinceVersion == 0) Set.empty[String]
      else manifestFiles(readManifest(sinceVersion)).toSet
    // a rewriting op that left the file list IDENTICAL (empty MERGE,
    // all-pruned DELETE, restore-to-parent) changed zero rows — it
    // must not force every incremental consumer into an O(base)
    // resync; only a commit that actually moved the file set does
    var prevFiles = baseFiles
    ((sinceVersion + 1) to cur).foreach { v =>
      val m = if (v == cur) mCur else readManifest(v)
      val op = m.path("op").asText("")
      val fs = manifestFiles(m).toSet
      if (op != "append" && op != "stream-append" && fs != prevFiles)
        throw new VersionedTable.ResyncRequired(
          s"cannot read appends across version $v ($op rewrites files); " +
            "re-read the snapshot instead")
      prevFiles = fs
    }
    val fresh = manifestFiles(mCur).filterNot(baseFiles)
    if (fresh.isEmpty) emptySnapshot(mCur)
    else readFiles(mCur, fresh)
  }

  /** Row-level change feed (Delta's `table_changes`): every change the
    * commits in `(sinceVersion, untilVersion]` made, as table rows
    * tagged `_change_type` (`insert`, `delete`, `update_preimage`,
    * `update_postimage`) and `_commit_version`. Per-commit cost model:
    *
    *   - append / stream-append — served from the commit's fresh data
    *     files (a manifest file-set diff, no change files needed);
    *   - merge / delete / update — served from the change files the
    *     commit wrote ([[enableCdf]]); a rewriting commit written
    *     without tracking answers [[VersionedTable.ResyncRequired]];
    *   - compact — skipped: it moves bytes, not rows (zero logical
    *     change), so maintenance never forces consumers to resync;
    *   - overwrite / restore — resync: their logical delta is a full
    *     snapshot diff, which no file-level record can answer;
    *   - any rewriting commit that left the file list identical
    *     (empty MERGE, all-pruned DELETE) — skipped, zero changes.
    *
    * Rows come back under the `untilVersion` schema: change files and
    * appended files written before an additive evolution read under
    * their own commit's schema and are null-extended, mirroring how
    * snapshot reads treat old files. Consumers resume by recording the
    * upper bound they passed, exactly like [[readAppendsSince]].
    */
  def readChangesSince(sinceVersion: Int, untilVersion: Int = -1): DataFrame = {
    val cur = if (untilVersion == -1) currentVersion else untilVersion
    require(cur > 0, s"table at $dir has no committed version")
    require(untilVersion == -1 || untilVersion <= currentVersion,
      s"version $untilVersion not committed (current $currentVersion)")
    require(sinceVersion >= 0 && sinceVersion <= cur,
      s"version $sinceVersion out of range (upper bound $cur)")
    def readManifest(v: Int): JsonNode =
      try manifest(v)
      catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
          throw new VersionedTable.ResyncRequired(
            s"version $v of $dir is below the vacuum horizon; re-read the snapshot")
      }
    val ct = VersionedTable.ChangeTypeCol
    val cv = VersionedTable.CommitVersionCol
    val mCur = readManifest(cur)
    val tgtNode = mCur.get("schema")
    require(tgtNode != null, s"manifest of $dir carries no schema; change feed needs one")
    val tgt = DataType.fromJson(tgtNode.asText()).asInstanceOf[StructType]
    // every piece aligns to the until-version schema: committed
    // columns in order (old files null-extend), then the two feed
    // columns — so the union is well-typed across schema evolution.
    // Matching is by PHYSICAL identity (falling back to the name for
    // unmapped columns): a rename inside the window changes logical
    // names but never physical ones, so pre-rename pieces keep
    // feeding the renamed column instead of null-extending; the cast
    // up-converts pre-widening vintages losslessly.
    def align(df: DataFrame, version: Int, pieceSchema: StructType): DataFrame = {
      val byPhys = pieceSchema.fields.iterator
        .map(f => VersionedTable.physicalName(f) -> f.name).toMap
      df.select(tgt.fields.toSeq.map { f =>
        byPhys.get(VersionedTable.physicalName(f)) match {
          case Some(src) if df.columns.contains(src) =>
            col(src).cast(f.dataType).as(f.name)
          case _ => lit(null).cast(f.dataType).as(f.name)
        }
      } :+ col(ct) :+ lit(version).as(cv): _*)
    }
    def commitSchema(m: JsonNode): StructType = Option(m.get("schema"))
      .map(s => DataType.fromJson(s.asText()).asInstanceOf[StructType])
      .filter(_.fields.nonEmpty).getOrElse(tgt)
    var prevFiles =
      if (sinceVersion == 0) Set.empty[String]
      else manifestFiles(readManifest(sinceVersion)).toSet
    val pieces = ((sinceVersion + 1) to cur).flatMap { v =>
      val m = if (v == cur) mCur else readManifest(v)
      val op = m.path("op").asText("")
      val fs = manifestFiles(m).toSet
      val piece: Option[DataFrame] =
        if (op == "append" || op == "stream-append") {
          val fresh = manifestFiles(m).filterNot(prevFiles)
          if (fresh.isEmpty) None
          else Some(align(readFiles(m, fresh).withColumn(ct, lit("insert")), v,
            commitSchema(m)))
        } else manifestCdf(m) match {
          case Some(rels) =>
            if (rels.isEmpty) None
            else {
              // pin the change files to their OWN commit's schema (+
              // the tag column the writer appended) — a later additive
              // evolution must not make old change files read wide.
              // Mapped commits stored the change files under physical
              // names; surface them logical like any data read.
              val cs = commitSchema(m)
              val paths = rels.map(dataPath)
              val piece0 =
                if (hasMapping(cs))
                  spark.read.schema(StructType(physicalSchema(cs).fields.toSeq :+
                      StructField(ct, StringType, nullable = true)))
                    .parquet(paths: _*)
                    .select(cs.fields.toSeq.map(f =>
                      col(VersionedTable.physicalName(f)).as(f.name)) :+ col(ct): _*)
                else
                  spark.read.schema(cs.add(StructField(ct, StringType, nullable = true)))
                    .parquet(paths: _*)
              Some(align(piece0, v, cs))
            }
          case None if fs == prevFiles => None // no-op commit: zero changes
          case None if op == "compact" => None // bytes moved, rows unchanged
          case None =>
            throw new VersionedTable.ResyncRequired(
              s"cannot read changes across version $v ($op " +
                "wrote no change files); re-read the snapshot instead")
        }
      prevFiles = fs
      piece
    }
    val empty = {
      val schema = StructType(tgt.fields.toSeq :+
        StructField(ct, StringType, nullable = true) :+
        StructField(cv, IntegerType, nullable = false))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
    pieces.foldLeft(empty)(_ unionByName _)
  }

  /** Row-level DIFF between two committed versions WITHOUT change
    * tracking — retroactive (works on any pair of retained versions,
    * CDF on or off): rows only in `v1` emit as `delete` (their old
    * values), rows only in `v2` as `insert`, rows under a key both
    * versions hold with ANY column differing as `update_preimage` +
    * `update_postimage`. The output is [[readChangesSince]]'s net
    * shape minus the commit-version column, so it feeds
    * [[applyChanges]] (replicate a version range onto another table
    * with no feed history) and answers "what changed between Monday's
    * and today's snapshot" as one frame.
    *
    * MANIFEST-PRUNED: files common to both versions carry identical
    * rows on both sides and cancel, so only files unique to either
    * version are read — O(changed files), never O(table). Soundness
    * needs the keyed-table contract this engine's MERGE already
    * enforces: `key` unique per snapshot (a key can't sit in a common
    * file on one side and a differing file on the other) and non-null
    * (SQL join semantics would split a null-keyed row into a
    * delete+insert pair). Schemas may differ across the window:
    * both sides align to `v2`'s logical schema by physical identity
    * (renames track, dropped/added columns null-extend, widenings
    * up-cast) — the same alignment the change feed applies.
    */
  def snapshotDiff(v1: Int, v2: Int, key: String): DataFrame = {
    val cur = currentVersion
    require(v1 >= 1 && v2 >= 1 && v1 <= cur && v2 <= cur,
      s"snapshotDiff: versions must be committed (1..$cur), got $v1, $v2")
    val m1 = manifest(v1)
    val m2 = manifest(v2)
    val f1 = manifestFiles(m1)
    val f2 = manifestFiles(m2)
    val only1 = f1.filterNot(f2.toSet)
    val only2 = f2.filterNot(f1.toSet)
    val tgt = Option(m2.get("schema"))
      .map(s => DataType.fromJson(s.asText()).asInstanceOf[StructType])
      .filter(_.fields.nonEmpty)
      .getOrElse(throw new IllegalStateException(
        s"snapshotDiff: version $v2 of $dir carries no schema"))
    require(tgt.fieldNames.contains(key), s"snapshotDiff: no column `$key` in v$v2")
    def side(m: JsonNode, rels: Seq[String]): DataFrame = {
      val df = if (rels.nonEmpty) readFiles(m, rels) else emptySnapshot(m)
      val pieceSchema = Option(m.get("schema"))
        .map(s => DataType.fromJson(s.asText()).asInstanceOf[StructType])
        .filter(_.fields.nonEmpty).getOrElse(tgt)
      val byPhys = pieceSchema.fields.iterator
        .map(f => VersionedTable.physicalName(f) -> f.name).toMap
      df.select(tgt.fields.toSeq.map { f =>
        byPhys.get(VersionedTable.physicalName(f)) match {
          case Some(src) if df.columns.contains(src) =>
            col(src).cast(f.dataType).as(f.name)
          case _ => lit(null).cast(f.dataType).as(f.name)
        }
      }: _*)
    }
    val a = side(m1, only1).as("a")
    val b = side(m2, only2).as("b")
    val cols = tgt.fieldNames.toSeq
    val joined = a.join(b, col(s"a.$key") === col(s"b.$key"), "full_outer")
    val ct = VersionedTable.ChangeTypeCol
    def pick(sideTag: String) = cols.map(c => col(s"$sideTag.$c").as(c))
    val aRow = org.apache.spark.sql.functions.struct(cols.map(c => col(s"a.$c")): _*)
    val bRow = org.apache.spark.sql.functions.struct(cols.map(c => col(s"b.$c")): _*)
    val deletes = joined.filter(col(s"b.$key").isNull)
      .select(pick("a") :+ lit("delete").as(ct): _*)
    val inserts = joined.filter(col(s"a.$key").isNull)
      .select(pick("b") :+ lit("insert").as(ct): _*)
    val changed = joined.filter(col(s"a.$key").isNotNull &&
      col(s"b.$key").isNotNull && !(aRow <=> bRow))
    deletes
      .unionByName(inserts)
      .unionByName(changed.select(pick("a") :+ lit("update_preimage").as(ct): _*))
      .unionByName(changed.select(pick("b") :+ lit("update_postimage").as(ct): _*))
  }

  /** Commit history, newest first (Delta's DESCRIBE HISTORY): one row
    * per retained version with its operation, wall-clock commit time
    * (null for manifests written before timestamps existed), file
    * count, and stream epoch if any. Walks back from the current
    * version over at most `maxVersions` manifests and stops at the
    * vacuum horizon — a metadata-only scan, never data IO.
    */
  /** One-row operational summary — Delta's `DESCRIBE DETAIL` shape:
    * location, head version + its op/wall-time, file count, exact
    * snapshot row count when every file carries stats (null
    * otherwise — never a guess), on-disk bytes of the snapshot's data
    * files, the CDF flag, and the live CHECK constraints. O(metadata):
    * one manifest read plus a `Files.size` per data file.
    */
  def detail(): DataFrame = {
    val cur = currentVersion
    require(cur > 0, s"table at $dir has no committed version")
    val m = manifest(cur)
    val files = manifestFiles(m)
    val stats = manifestStats(m)
    val rows: java.lang.Long =
      if (files.nonEmpty && files.forall(f =>
          stats.get(f).exists(n => n.has("_rows") && n.get("_rows").isNumber)))
        java.lang.Long.valueOf(files.map(f => stats(f).get("_rows").asLong).sum)
      else if (files.isEmpty) java.lang.Long.valueOf(0L)
      else null
    val size = files.map { f =>
      try Files.size(dataFsPath(f)) catch { case NonFatal(_) => 0L }
    }.sum
    val cons = constraintList.map { case (n, e) => s"$n CHECK ($e)" }.mkString("; ")
    val schema = StructType(Seq(
      StructField("location", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("ts", LongType, nullable = true),
      StructField("num_files", IntegerType, nullable = false),
      StructField("num_rows", LongType, nullable = true),
      StructField("size_bytes", LongType, nullable = false),
      StructField("cdf_enabled", BooleanType, nullable = false),
      StructField("constraints", StringType, nullable = false)))
    val ts: java.lang.Long =
      if (m.has("ts")) java.lang.Long.valueOf(m.get("ts").asLong) else null
    spark.createDataFrame(
      java.util.List.of(Row(dir, cur, m.path("op").asText(""), ts,
        files.size, rows, size, cdfEnabled, cons)),
      schema)
  }

  /** Per-file metadata listing at `version` (head when -1) — the
    * `files` metadata-table idiom: (file, rows, size_bytes), rows
    * null for statless files. O(manifest) plus one size stat per
    * file; no data file opened.
    */
  def filesTable(version: Int = -1): DataFrame = {
    val v = if (version < 0) currentVersion else version
    require(v > 0, s"table at $dir has no committed version")
    val m = manifest(v)
    val stats = manifestStats(m)
    val rows = manifestFiles(m).map { f =>
      val r: java.lang.Long = stats.get(f)
        .flatMap(n => Option(n.get("_rows"))).filter(_.isNumber)
        .map(n => java.lang.Long.valueOf(n.asLong)).orNull
      val sz = try Files.size(dataFsPath(f)) catch { case NonFatal(_) => -1L }
      Row(f, r, sz)
    }
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("size_bytes", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  def history(maxVersions: Int = 100): DataFrame = {
    val cur = currentVersion
    require(cur > 0, s"table at $dir has no committed version")
    // operation metrics (Delta's operationMetrics): files/rows the
    // commit ADDED and REMOVED, from the manifest file-set diff vs the
    // previous version. Rows come from each file's `_rows` stat — a
    // version with any statless file reports null rather than a wrong
    // number; the oldest retained version diffs against its own full
    // file set (everything "added") only when v-1 is readable, else
    // null (the diff is unknowable below the vacuum horizon).
    def rowsOf(m: JsonNode, files: Seq[String]): Option[Long] = {
      val stats = manifestStats(m)
      val per = files.map(f => stats.get(f)
        .filter(n => n.has("_rows") && n.get("_rows").isNumber)
        .map(_.get("_rows").asLong))
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }
    // one manifest READ per version: the walk descends, so version
    // v-1's manifest (needed for v's diff) becomes the next
    // iteration's own manifest — carry it instead of re-parsing
    var carried: Option[(Int, JsonNode)] = None
    def manifestAt(v: Int): JsonNode = carried match {
      case Some((cv, m)) if cv == v => m
      case _ => manifest(v)
    }
    val rows = Iterator.range(cur, math.max(cur - maxVersions, 0), -1)
      .map { v =>
        try {
          val m = manifestAt(v)
          val files = manifestFiles(m)
          val prev: Option[(JsonNode, Set[String])] =
            if (v <= 1) Some((m, Set.empty[String])) // v1 adds everything
            else
              try {
                val pm = manifest(v - 1)
                carried = Some((v - 1, pm))
                Some((pm, manifestFiles(pm).toSet))
              }
              catch { case NonFatal(_) => None }
          val added = prev.map { case (_, pf) => files.filterNot(pf) }
          val removed = prev.map { case (_, pf) => (pf -- files.toSet).toSeq }
          def jl(o: Option[Long]): java.lang.Long =
            o.map(java.lang.Long.valueOf).orNull
          def ji(o: Option[Int]): java.lang.Integer =
            o.map(java.lang.Integer.valueOf).orNull
          Some(Row(v, m.path("op").asText(""),
            if (m.has("ts")) java.lang.Long.valueOf(m.get("ts").asLong) else null,
            files.size,
            if (m.has("epoch")) java.lang.Long.valueOf(m.get("epoch").asLong) else null,
            ji(added.map(_.size)), ji(removed.map(_.size)),
            jl(added.flatMap(a => rowsOf(m, a))),
            jl(prev.flatMap { case (pm, _) =>
              removed.flatMap(r => rowsOf(pm, r)) }),
            opParamsOf(m)))
        } catch {
          // below the vacuum horizon: the walk is over
          case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
            None
        }
      }
      .takeWhile(_.isDefined).flatten.toSeq
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("op", StringType, nullable = false),
      StructField("ts", LongType, nullable = true),
      StructField("n_files", IntegerType, nullable = false),
      StructField("epoch", LongType, nullable = true),
      StructField("files_added", IntegerType, nullable = true),
      StructField("files_removed", IntegerType, nullable = true),
      StructField("rows_added", LongType, nullable = true),
      StructField("rows_removed", LongType, nullable = true),
      StructField("op_params", StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Op-specific provenance a commit chose to record ([[commit]]'s
    * extraMeta — clone source/version, merge_branch source branch +
    * fork + feed range), serialized as one compact JSON string for
    * DESCRIBE HISTORY's `op_params`; null when the commit recorded
    * none. Whitelisted keys only: the manifest's structural nodes
    * (files, stats, schema, …) are not operation parameters.
    */
  private def opParamsOf(m: JsonNode): String = {
    val kvs = VersionedTable.OpParamKeys.flatMap { k =>
      Option(m.get(k)).map(v => s""""$k":${mapper.writeValueAsString(v.asText())}""")
    }
    if (kvs.isEmpty) null else kvs.mkString("{", ",", "}")
  }

  /** Bound storage: drop history older than the last `retainVersions`
    * commits — delete the older manifests (and their checkpoint
    * copies), then every data file no surviving manifest references.
    * Time travel keeps working within the retained window; copy-on-
    * write tables need this or every overwrite/merge retains a full
    * snapshot forever (Delta's VACUUM). Returns the number of data
    * files deleted. Safe against mid-vacuum readers of RETAINED
    * versions (their manifests and files are untouched); like Delta,
    * readers of dropped history race with the delete by design.
    *
    * Change-feed consumers are protected: a registered lease
    * ([[registerFeedLease]]) younger than `maxFeedLeaseAgeMs` REFUSES
    * the vacuum when it would drop a version past the consumer's
    * read-through point — otherwise a replica offline across a vacuum
    * discovers ResyncRequired (full re-sync) instead of resuming its
    * delta stream. Stale leases (a consumer dead longer than the age
    * bound, default 7 days) stop holding retention back; `force`
    * overrides the guard entirely.
    */
  /** Hours-based retention mapped onto newest-N version retention
    * (Delta's `VACUUM … RETAIN n HOURS` shape): walk newest→oldest
    * counting versions whose commit timestamp is inside the window;
    * the walk STOPS at the first version PROVABLY older than the
    * window. A version whose age is unknowable (pre-timestamp or
    * unreadable manifest) counts as retained and the walk continues —
    * time-based deletion never acts on uncertainty (clear pre-ts
    * history with RETAIN n VERSIONS instead). Always ≥ 1 (the head is
    * never droppable).
    */
  def retainCountForHours(hours: Double,
      nowMs: Long = System.currentTimeMillis()): Int = {
    require(hours >= 0, "retention hours must be non-negative")
    val cutoff = nowMs - (hours * 3600 * 1000).toLong
    val vs = listVersions().sorted.reverse
    var n = 0
    val it = vs.iterator
    var stopped = false
    while (it.hasNext && !stopped) {
      val v = it.next()
      val provablyOld =
        try {
          val m = manifest(v)
          m.has("ts") && m.get("ts").asLong < cutoff
        } catch { case NonFatal(_) => false }
      if (provablyOld) stopped = true else n += 1
    }
    math.max(n, 1)
  }

  /** Reclaim ORPHANED data files: parquet (and their bloom/NDV
    * sidecars) under the table directory that NO retained manifest
    * references and that are older than `olderThanMs` — the debris a
    * writer killed between writeFiles and its commit claim leaves
    * behind, which version-based [[vacuum]] can never see (it walks
    * manifests; these files were never in one). The age guard is the
    * writer-safety mechanism (Delta's untracked-file retention): an
    * in-flight commit's files are younger than any sane window, so
    * the sweep runs safely next to live writers with no coordination.
    * `dryRun` reports the count with zero deletes. The commit log
    * itself and config sidecars are never candidates; external
    * (clone-referenced) files live outside the directory by
    * construction. One O(files) directory walk — the same cost class
    * as the manifest listing maintenance already pays.
    */
  def vacuumOrphans(olderThanMs: Long = VersionedTable.DefaultOrphanAgeMs,
      dryRun: Boolean = false): Int = {
    require(olderThanMs >= 0, "orphan age must be non-negative")
    val root = Paths.get(dir).toAbsolutePath.normalize()
    if (!Files.isDirectory(root)) return 0
    // everything ANY retained manifest can reach: data + change files
    // and their index sidecars (sidecars are named <file>.bloom-* /
    // <file>.ndv-*, so prefix-matching on the file path covers them).
    // Paths are built with the SAME resolver the walk below uses —
    // string concat against a non-canonical dir (trailing slash)
    // would match nothing and classify every live file as debris.
    // A manifest that cannot be READ aborts the sweep (deleting on
    // incomplete knowledge is how a cleaner destroys a table); one
    // that VANISHED under us was dropped by a concurrent vacuum and
    // its files are that vacuum's to reclaim — skip it.
    // live-branch references count as referenced: a parent file held
    // only by a branch's fork snapshot (its own manifests dropped by a
    // version vacuum whose branch guard kept the bytes) must not read
    // as debris
    val referenced: Set[String] = (listVersions().flatMap { v =>
      try {
        val m = manifest(v)
        manifestFiles(m) ++ manifestCdf(m).getOrElse(Seq.empty)
      } catch {
        case _: java.nio.file.NoSuchFileException |
             _: java.io.FileNotFoundException => Seq.empty
      }
    }.filterNot(VersionedTable.isExternal) ++ branchHeldRels)
      .map(rel => root.resolve(rel).normalize().toString).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    // walk skips the commit-log subtree entirely (manifests and
    // checkpoints are never candidates — no point statting them)
    val candidates = scala.collection.mutable.ArrayBuffer.empty[Path]
    Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult =
        if (d.getFileName != null &&
            (d.getFileName.toString == logDir.getFileName.toString ||
              // branch subtrees are whole tables with their own
              // manifests — their files are referenced by manifests
              // THIS sweep never reads, so walking them would delete
              // live branch data; each branch vacuums itself
              d.getFileName.toString == VersionedTable.BranchesSub))
          java.nio.file.FileVisitResult.SKIP_SUBTREE
        else java.nio.file.FileVisitResult.CONTINUE
      override def visitFile(p: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        val n = p.getFileName.toString
        val isData = n.endsWith(".parquet") || n.contains(".parquet.bloom-") ||
          n.contains(".parquet.ndv-") || n.contains(".parquet.kll-") ||
          n.contains(".parquet.theta-")
        if (isData && attrs.isRegularFile &&
            attrs.lastModifiedTime.toMillis < cutoff) {
          // a sidecar is live while its data file is referenced; the
          // suffix search runs on the FILE NAME (a directory named
          // *.parquet up the path must not truncate the base)
          val base = n.lastIndexOf(".parquet") match {
            case -1 => p
            case i  => p.resolveSibling(n.substring(0, i + ".parquet".length))
          }
          if (!referenced.contains(base.toString)) { candidates += p; () }
        }
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException)
          : java.nio.file.FileVisitResult =
        java.nio.file.FileVisitResult.CONTINUE // vanished under us: skip
    })
    if (dryRun) return candidates.size
    // report what was actually FREED, not what was attempted — the
    // SQL result must not overstate under a permission-locked file
    val deleted = candidates.count(p =>
      try Files.deleteIfExists(p)
      catch { case NonFatal(_) => false })
    dropEmptyDataDirs(candidates.map(_.getParent).distinct.toSeq.filter(_ != root))
    deleted
  }

  /** Drop data dirs with no parquet left (write markers like _SUCCESS
    * don't keep a dead dir alive); a dir a concurrent vacuum removes
    * UNDER us is fine — catch, don't check-then-act. Shared by
    * [[vacuum]] and [[vacuumOrphans]].
    */
  private def dropEmptyDataDirs(dirs: Seq[Path]): Unit =
    dirs.foreach { d =>
      try {
        val s = Files.list(d)
        val hasParquet =
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.exists(_.getFileName.toString.endsWith(".parquet"))
          } finally s.close()
        if (!hasParquet) deleteTree(d)
      } catch { case _: java.nio.file.NoSuchFileException => () }
    }

  def vacuum(retainVersions: Int = 1, force: Boolean = false,
      maxFeedLeaseAgeMs: Long = VersionedTable.DefaultFeedLeaseAgeMs,
      dryRun: Boolean = false): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val vs = listVersions().sorted
    // tagged versions are PINNED live: pulled from the drop set into
    // the keep set, so their manifests survive (VERSION AS OF 'tag'
    // must stay readable) and their files join the live set below —
    // the manifest-level twin of branchHeldRels' file-level promise.
    // Deliberately NOT pinned: the change window ABOVE a tag —
    // `table_changes(t, 'tag')` past a vacuumed gap resyncs loudly
    // (see createTag's scaladoc); feed leases are the replay contract
    val tagged = taggedVersions
    val (drop0, keep0) = vs.splitAt(math.max(vs.size - retainVersions, 0))
    val drop = drop0.filterNot(tagged)
    val keep = drop0.filter(tagged) ++ keep0
    if (drop.isEmpty) return 0
    // files a version holds — data + change files; ONE definition so
    // the dry-run count can never diverge from what the real pass
    // frees (their parity is spec-pinned)
    def held(v: Int): Seq[String] = {
      val m = manifest(v)
      manifestFiles(m) ++ manifestCdf(m).getOrElse(Seq.empty)
    }
    // the lease veto applies to the DRY RUN too: a dry run is a
    // predictor of the real command, and predicting N freed files
    // when the real vacuum would throw the lease guard is a lie.
    // force + dryRun answers "what would a forced vacuum free".
    if (!force) {
      val now = System.currentTimeMillis()
      feedLeases.foreach { case (id, (through, ts)) =>
        val needed = drop.filter(_ > through)
        // strictly-less: a zero age bound means every lease is stale,
        // even one written this same millisecond
        if (now - ts < maxFeedLeaseAgeMs && needed.nonEmpty)
          throw new IllegalStateException(
            s"vacuum would drop versions ${needed.min}..${needed.max} that " +
              s"change-feed consumer '$id' (read through v$through, lease " +
              s"${now - ts} ms old) still needs; wait for it to advance, " +
              "releaseFeedLease(id), or vacuum(force = true)")
      }
    }
    // change files are referenced ONLY by their own commit's manifest,
    // so they die with it — held() includes them on both sides.
    // EXTERNAL entries (absolute paths committed by a shallow clone)
    // are never owned by this table: the source table's own vacuum
    // governs their lifetime, so they are excluded from deletion even
    // when no retained version of the CLONE references them anymore.
    // files held by a live branch's snapshots stay live past the
    // retention window — the branch forked at (possibly) a dropped
    // version and references the parent's bytes by path; dropBranch
    // releases them to the NEXT vacuum
    val live = keep.flatMap(held).toSet ++ branchHeldRels
    val dead = drop.flatMap(held).distinct
      .filterNot(live)
      .filterNot(VersionedTable.isExternal)
    // DRY RUN ends here: the count, with zero side effects past the
    // (shared) lease veto — no deletes, no epoch-pointer harvest
    if (dryRun) return dead.size
    // the dropped manifests may be the only record of committed stream
    // epochs (if the commit-time pointer write failed — it's advisory);
    // harvest them into the durable pointer BEFORE deleting
    try {
      drop.iterator.flatMap { v =>
        val m = manifest(v)
        if (m.has("epoch")) Some(m.get("epoch").asLong) else None
      }.maxOption.foreach(writeEpochPointer)
    } catch { case NonFatal(_) => () }
    dead.foreach { rel =>
      Files.deleteIfExists(Paths.get(dir, rel))
      // a dead data file takes its index sidecars (bloom filters, NDV
      // sketches — whatever columns were indexed when it was written)
      // with it
      val p = Paths.get(dir, rel)
      val parent = p.getParent
      val prefixes = Seq(".bloom-", ".ndv-", ".kll-", ".theta-")
        .map(p.getFileName.toString + _)
      if (Files.isDirectory(parent)) {
        val s = Files.list(parent)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(f => prefixes.exists(f.getFileName.toString.startsWith))
            .foreach(Files.deleteIfExists)
        } finally s.close()
      }
    }
    // drop data dirs with no parquet left, then the dropped manifests
    dropEmptyDataDirs(dead.map(rel => Paths.get(dir, rel).getParent).distinct)
    drop.foreach { v =>
      Files.deleteIfExists(manifestPath(v))
      Files.deleteIfExists(checkpointPath(v))
    }
    // a pointer whose manifest was just dropped would send readers to
    // the full-listing fallback anyway; remove it so they don't probe
    // a hole (the next Nth commit rewrites it)
    val ckpt = lastCheckpointVersion
    if (ckpt > 0 && !Files.exists(manifestPath(ckpt))) Files.deleteIfExists(pointerPath)
    dead.size
  }
}

object VersionedTable {

  /** The CDF resync signal: `readAppendsSince` cannot answer with a
    * file diff (rewriting commit in the window, or the window fell
    * below the vacuum horizon) — re-read the snapshot. A SUBTYPE of
    * IllegalStateException so it stays catch-compatible, but typed so
    * consumers don't misread an unrelated ISE (stopped context,
    * library bug) as "please recompute from scratch".
    */
  final class ResyncRequired(msg: String) extends IllegalStateException(msg)

  /** Manifest file entries are table-dir-relative except the absolute
    * paths a SHALLOW CLONE commits (zero-copy references into the
    * source table) — absolute = external = not owned by this table.
    */
  private[sources] def isExternal(rel: String): Boolean = rel.startsWith("/")

  /** Bloom index config: which columns get per-file sidecar filters,
    * sized for how many rows per file at what false-positive rate.
    */
  final case class BloomConfig(columns: Seq[String], expected: Long, fpp: Double)
  final case class NdvConfig(columns: Seq[String], lgK: Int)
  final case class SketchConfig(kll: Seq[String], theta: Seq[String],
      kllK: Int, thetaLgK: Int)

  /** Key-set cap for driver-side Bloom probing in DELETE/MERGE: above
    * this the key set is bulk-scale (a backfill, not a point lookup) —
    * range pruning still applies, the per-file filter test is skipped
    * (its cost would be files × keys on the driver for little gain:
    * a large key set touches most files anyway).
    */
  val MaxBloomProbeKeys = 10000

  /** Manifest tag naming a bloom sidecar's BUILD type — the committed
    * column type at the commit that wrote the filter. Stored per file
    * as stats key `__bt_<column>` so probes after a type widening can
    * hash in each file's own era (xxhash64 of int ≠ xxhash64 of long
    * for the same value).
    */
  private[sources] def typeTag(dt: DataType): String = dt.catalogString

  private[sources] def tagType(tag: String): Option[DataType] = tag match {
    case "tinyint"  => Some(ByteType)
    case "smallint" => Some(ShortType)
    case "int"      => Some(IntegerType)
    case "bigint"   => Some(LongType)
    case "float"    => Some(FloatType)
    case "double"   => Some(DoubleType)
    case "string"   => Some(StringType)
    case _          => None // unrecognized build type: probes admit
  }

  private sealed trait StoredRepr
  private final case class StoredAs(v: Any) extends StoredRepr
  private case object OutOfDomain extends StoredRepr
  private case object Unclassified extends StoredRepr

  /** `v` (a pointSets/probe value in the CURRENT committed domain:
    * boxed integral, Double/Float, or String) as the JVM value a
    * `bt`-typed column stores — or OutOfDomain when no bt-typed row
    * can ever equal it (a long beyond int range, a double that does
    * not survive the float round-trip), which lets the probe REFUTE
    * the file instead of hashing a wrapped value.
    */
  private def stored(v: Any, bt: DataType): StoredRepr = (v, bt) match {
    case (n: java.lang.Number, ByteType | ShortType | IntegerType | LongType)
        if !v.isInstanceOf[java.lang.Double] && !v.isInstanceOf[java.lang.Float] =>
      val l = n.longValue()
      bt match {
        case ByteType if l >= Byte.MinValue && l <= Byte.MaxValue => StoredAs(l.toByte)
        case ShortType if l >= Short.MinValue && l <= Short.MaxValue => StoredAs(l.toShort)
        case IntegerType if l >= Int.MinValue && l <= Int.MaxValue => StoredAs(l.toInt)
        case LongType => StoredAs(l)
        case _ => OutOfDomain
      }
    case (d: java.lang.Double, DoubleType) => StoredAs(d.doubleValue())
    case (d: java.lang.Double, FloatType) =>
      val f = d.floatValue()
      if (d.isNaN || f.toDouble == d.doubleValue()) StoredAs(f) else OutOfDomain
    case (f: java.lang.Float, FloatType) => StoredAs(f.floatValue())
    case (f: java.lang.Float, DoubleType) => StoredAs(f.doubleValue())
    case (s: String, StringType) =>
      StoredAs(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    case (u: org.apache.spark.unsafe.types.UTF8String, StringType) => StoredAs(u)
    case _ => Unclassified
  }

  /** xxhash64 of each probe value AS build type `bt` — bit-for-bit
    * the hash a sidecar built when the column was bt-typed holds:
    * [[org.apache.spark.sql.catalyst.expressions.XxHash64Function]]
    * IS the `functions.xxhash64` expression's interpreted evaluator
    * (same algorithm, same default seed 42; equality asserted in
    * WidenBloomSpec). Values not exactly representable in `bt` are
    * DROPPED — a file whose values are all bt-typed can never
    * contain them, so an emptied probe set refutes the file without
    * touching its sidecar. None = some value could not be classified
    * (caller must admit).
    */
  private[graft] def probeHashes(values: Seq[Any], bt: DataType): Option[Array[Long]] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    val out = Array.newBuilder[Long]
    val it = values.iterator
    while (it.hasNext) {
      stored(it.next(), bt) match {
        case StoredAs(v)   => out += XxHash64Function.hash(v, bt, 42L)
        case OutOfDomain   => ()
        case Unclassified  => return None
      }
    }
    Some(out.result())
  }

  /** scan()'s per-file driver metadata (summed file bytes, NDV
    * sidecar unions), memoized per (dir, version, ndv-columns) — the
    * file set of a committed version is immutable, so this work is
    * computed once per JVM, not once per scan()/describe call.
    */
  private[sources] final case class ScanMeta(bytes: Long, ndv: Map[String, Long],
      hist: Map[String, org.apache.spark.sql.catalyst.plans.logical.Histogram])
  private[sources] val scanMeta =
    new graft.util.BoundedMemo[(String, Int, Seq[String], Seq[String]), ScanMeta](64, _ => ())

  /** Field-metadata key carrying a column's PHYSICAL name — the name
    * its values are stored under in parquet files (Delta's name-mode
    * column mapping). Absent = physical equals the logical name,
    * which is every column's state until a rename.
    */
  val PhysicalNameKey = "graft_physical"

  /** The name `f`'s values are stored under on disk. */
  private[sources] def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey)
    else f.name

  /** Change-feed tag column: insert | delete | update_preimage |
    * update_postimage (Delta's _change_type vocabulary).
    */
  /** Stored-constraint encoding for ENFORCED UNIQUE: the constraint
    * map's value is `unique:col1,col2` instead of a CHECK expression.
    */
  private[graft] val UniquePrefix = "unique:"

  private[sources] def uniqueColsOf(spec: String): Option[Seq[String]] =
    if (spec.startsWith(UniquePrefix))
      Some(spec.stripPrefix(UniquePrefix).split(",").map(_.trim).toSeq)
    else None

  /** Manifest keys surfaced as DESCRIBE HISTORY `op_params`. */
  private[sources] val OpParamKeys =
    Seq("cloneSource", "cloneVersion", "branchSource", "branchFork", "branchFeed")

  val ChangeTypeCol = "_change_type"

  /** Change-feed commit-version column. */
  val CommitVersionCol = "_commit_version"

  /** Subdirectory holding a table's branches (each a full vtable). */
  val BranchesSub = "_graft_branches"

  /** Subdirectory holding a table's immutable tags (one small JSON
    * pin file per tag).
    */
  val TagsSub = "_graft_tags"

  /** Checkpoint cadence: every Nth commit duplicates the manifest and
    * bumps `_last_checkpoint`. Delta uses 10; manifests here are
    * self-contained either way, so the interval only tunes how many
    * forward probes `currentVersion` pays.
    */
  val CheckpointInterval = 10

  /** String min/max stats longer than this are truncated in the
    * manifest (min → sound prefix bound, max → unbounded) so wide text
    * columns never bloat the log.
    */
  val StatStringMax = 64

  /** Claims one write verb makes before a lost race surfaces: every
    * verb retries through the one `retrying` loop, re-planning on the
    * winner's snapshot after each loss.
    */
  val MaxCommitRetries = 5

  /** What one copy-on-write claim writes: `rows` as fresh files, the
    * `untouched` head files carried by path, and the row-level
    * `changes` when change tracking is on.
    */
  private final case class Rewrite(rows: DataFrame, untouched: Seq[String],
      changes: Option[DataFrame] = None)

  /** How long a change-feed lease protects retention after its last
    * update (7 days): long enough to ride out a weekend outage of a
    * replica, short enough that a decommissioned-without-release
    * consumer doesn't pin history forever.
    */
  val DefaultFeedLeaseAgeMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Minimum age before an UNREFERENCED file counts as orphaned debris
    * (7 days, Delta's untracked-file retention default): an in-flight
    * writer's files are younger than any sane sweep window, so the
    * age guard — not coordination — keeps vacuumOrphans safe to run
    * next to live writers.
    */
  val DefaultOrphanAgeMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Equal-frequency buckets per Z-order dimension (64 = 6 bits;
    * 4096 addressable z-cells — plenty of granularity above any
    * realistic compaction output count, and the per-row range-id
    * indicator sum stays a shallow codegen'd expression).
    */
  val ZBuckets = 64

  // per-table-dir lock serializing epoch-pointer advances in-process;
  // keyed by the NORMALIZED absolute path so "/t", "/t/" and relative
  // spellings of the same table share one monitor
  private val epochLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def epochLock(dir: String): Object =
    epochLocks.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)

  /** Open a table handle. Opening has NO filesystem side effects —
    * the log directory is created by the first commit, and reads of a
    * never-committed path fail with a clear error instead of leaving
    * directories behind.
    */
  def apply(spark: SparkSession, dir: String): VersionedTable =
    new VersionedTable(spark, dir)
}

/** Catalog integration: `read("vtable", dir)` serves the latest
  * snapshot; `options("version")` time-travels. Read-only — never
  * touches the filesystem beyond the manifest + data files.
  */
object VTableSource extends SourceProvider {
  val format = "vtable"
  /** `version` time-travels by commit number, `timestampAsOf` by wall
    * clock (epoch millis, or an ISO instant like
    * `2026-08-13T12:00:00Z`); `where` is a SQL boolean expression
    * routed through [[VersionedTable.readWhere]], so a service caller
    * registering a filtered view gets file-level data skipping instead
    * of a post-scan filter (the SQL parser's typed comparison nodes
    * feed the same constraint extractor as the Column DSL).
    */
  def read(spark: SparkSession, path: String, options: Map[String, String]): DataFrame = {
    val vt = VersionedTable(spark, path)
    require(!(options.contains("version") && options.contains("timestampAsOf")),
      "give version OR timestampAsOf, not both")
    // `version` also takes a TAG name: a /register with
    // options("version") = "blessed" is the DURABLE tag-pinned
    // registration (the service registry replays options on restart,
    // and the tag is immutable, so the view re-resolves to the same
    // pinned snapshot every time — or fails loudly if the tag was
    // dropped, which is the honest outcome)
    val version = options.get("version").map { v =>
      v.toIntOption.getOrElse(vt.tagVersion(v).getOrElse(
        throw new IllegalArgumentException(
          s"vtable option version='$v' is neither a commit number nor a " +
            s"tag of $path (tags: ${vt.tagNames.mkString(", ")})")))
    }
      .orElse(options.get("timestampAsOf").map { t =>
        val millis =
          if (t.forall(_.isDigit)) t.toLong
          else java.time.Instant.parse(t).toEpochMilli
        vt.versionAt(millis)
      })
      .getOrElse(-1)
    options.get("where") match {
      case Some(w) => vt.readWhere(org.apache.spark.sql.functions.expr(w), version)
      // no explicit predicate → the LAZY scan, so filters the caller
      // composes later (or writes in SQL over a /register'd view)
      // still collapse to the stats+bloom-pruned file scan via the
      // optimizer rule. options("lazy")="false" forces the eager
      // snapshot read (e.g. for a caller inspecting df.inputFiles,
      // which a marker leaf reports empty).
      case None if options.get("lazy").contains("false") => vt.read(version)
      case None => vt.scan(version)
    }
  }
}

/** Contract query over the versioned table: append an orders snapshot
  * (even keys), MERGE price-bumped updates (keys divisible by 3 —
  * half match, half insert), read the committed snapshot back and
  * aggregate. The oracle reproduces the MERGE result in plain SQL, so
  * the table format's write → claim → read path is itself under the
  * DuckDB gate. Memoized per (session, corpus) — contract queries are
  * constructed freely and table commits are not idempotent.
  */
object TableMerge {

  // eviction must NOT delete the directory — a lazily evaluated
  // DataFrame returned earlier still reads it; temp tables are cleaned
  // at JVM exit instead. Disk is bounded by the number of distinct
  // corpora a session touches (a few MB each; the gate/bench touch at
  // most three), not by the memo size — the memo only bounds how many
  // stay addressable for reuse.
  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tmerge")
      val dir = parent + "/orders_t"
      val vt = VersionedTable(t.spark, dir)
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
      vt.append(base.filter(col("o_orderkey") % 2 === 0))
      vt.merge(
        base.filter(col("o_orderkey") % 3 === 0)
          .withColumn("price", graft.operators.Rnd.round(col("price") * 1.1, 2)),
        "o_orderkey")
      dir
    }

  def qTableMerge(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"))
  }
}

/** Contract query for the atomic predicate overwrite
  * ([[VersionedTable.replaceWhere]]): an orders snapshot lands (even
  * keys), then the `o_orderkey % 5 = 0` slice is REBUILT in one
  * commit — its stored rows (the evens divisible by 10) replaced and
  * net-new in-slice rows (odd multiples of 5) landed, all at a
  * discounted price. The read-back aggregate is oracled by
  * reproducing the same slice arithmetic in plain SQL, so the
  * delete-and-land commit path is itself under the DuckDB gate.
  * Memoized per (session, corpus) like [[TableMerge]].
  */
object TableReplace {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-treplace")
      val dir = parent + "/orders_r"
      val vt = VersionedTable(t.spark, dir)
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
      vt.append(base.filter(col("o_orderkey") % 2 === 0))
      vt.replaceWhere(col("o_orderkey") % 5 === 0,
        base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("price", graft.operators.Rnd.round(col("price") * 0.5, 2)))
      dir
    }

  def qTableReplace(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"),
        sum(when(col("o_orderkey") % 5 === 0, 1L).otherwise(0L)).as("n_slice"))
  }
}

/** Contract query for SHALLOW CLONE (`q_table_clone`): an orders
  * snapshot is cloned zero-copy, the clone then diverges — an append
  * of new rows and a copy-on-write DELETE that rewrites some of the
  * files it shares with the source — while the source must read back
  * untouched. The query aggregates BOTH tables side by side, so the
  * DuckDB oracle (which reproduces each final state from the raw
  * orders parquet in plain SQL) hash-verifies clone isolation in both
  * directions: divergence landed on the clone, nothing leaked back.
  * Memoized per (session, corpus) like [[TableMerge]].
  */
object TableClone {

  private val tables = new graft.util.CorpusMemo[(String, String)]()

  private[graft] def builtTables(t: Tables): (String, String) =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tclone")
      val srcDir = parent + "/orders_src"
      val src = VersionedTable(t.spark, srcDir)
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
      src.append(base.filter(col("o_orderkey") % 2 === 0))
      val clone = src.cloneTo(parent + "/orders_clone")
      // divergence: new rows only the clone has…
      clone.append(base.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 0)
        .withColumn("price", graft.operators.Rnd.round(col("price") * 2, 2)))
      // …and a COW delete that rewrites shared (external) files into
      // clone-local ones — the source files themselves must survive
      clone.deleteWhere(col("o_orderkey") % 10 === 0)
      (srcDir, parent + "/orders_clone")
    }

  def qTableClone(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    val (srcDir, cloneDir) = builtTables(t)
    def summary(dir: String, side: String) =
      VersionedTable(t.spark, dir).read()
        .agg(count(lit(1)).as("n_rows"),
          graft.operators.Rnd.round(sum("price"), 2).as("total"),
          min("o_orderkey").as("min_k"), max("o_orderkey").as("max_k"))
        .select(lit(side).as("side"), col("n_rows"), col("total"),
          col("min_k"), col("max_k"))
    summary(srcDir, "source").unionByName(summary(cloneDir, "clone"))
      .orderBy("side")
  }
}

/** Contract query for idempotent COPY INTO (`q_copy_into`): two
  * source batches land in a directory; the first copyInto loads batch
  * one, a RE-RUN is proven a no-op (zero files loaded, version
  * unchanged), and after batch two appears a third run loads exactly
  * the new files. The final aggregate is oracled by reproducing both
  * batches from the raw orders parquet — so the ledger's exactly-once
  * contract (no double-loads, no gaps) is itself under the hash gate.
  * Memoized per (session, corpus) like [[TableMerge]].
  */
object TableCopyInto {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tcopy")
      val src = parent + "/landing"
      val dir = parent + "/orders_c"
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
      base.filter(col("o_orderkey") % 2 === 0).write.parquet(s"$src/b1")
      val vt = VersionedTable(t.spark, dir)
      val (_, n1) = vt.copyInto(src)
      require(n1 > 0, "first COPY INTO must load batch one")
      val (v2, n2) = vt.copyInto(src) // idempotent re-run
      require(n2 == 0 && v2 == vt.currentVersion,
        s"re-run must be a no-op, loaded $n2")
      base.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 3 === 0)
        .write.parquet(s"$src/b2")
      val (_, n3) = vt.copyInto(src) // grown directory: only b2 loads
      require(n3 > 0, "grown directory must load the new files")
      dir
    }

  def qCopyInto(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"),
        min("o_orderkey").as("min_k"), max("o_orderkey").as("max_k"))
  }
}

/** Contract query for lossless type-widening evolution: an orders
  * snapshot lands narrow (int key, float price), a later append
  * widens the committed schema to (long, double) WITHOUT rewriting
  * the earlier files — Spark 4's parquet readers up-convert the old
  * vintage at scan time. The read-back aggregate is oracled by
  * reproducing the same two-vintage union (with the same float
  * round-trip on the narrow half) in plain SQL, so the no-rewrite
  * evolution path is itself under the DuckDB gate. Memoized per
  * (session, corpus) like [[TableMerge]].
  */
object TableEvolve {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tevolve")
      val dir = parent + "/orders_e"
      val vt = VersionedTable(t.spark, dir)
      // narrow vintage: even keys as (int, float)
      vt.append(t.orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_totalprice").cast("float").as("price")))
      // widening append: odd keys divisible by 3, native (long, double)
      vt.appendEvolve(t.orders
        .filter(col("o_orderkey") % 2 =!= 0 && col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price")))
      dir
    }

  def qTableEvolve(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
  }
}

/** Contract query for column-mapping evolution: RENAME, DROP, and
  * re-ADD under the dropped name — three metadata-only commits that
  * never rewrite a data file — then one read of the final snapshot.
  * Gated against the DuckDB oracle, this proves: the renamed column
  * still serves every pre-rename file's values (name-mode mapping
  * reads stored `price` as logical `amount`); dropped values NEVER
  * resurrect when the name is re-added (the retired storage name
  * forces fresh synthesized storage, so pre-drop rows read null
  * `pri`); and rows from every era align on the logical schema.
  * Memoized per (session, corpus) like [[TableMerge]].
  */
object TableMapping {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tmapping")
      val dir = parent + "/orders_m"
      val vt = VersionedTable(t.spark, dir)
      // v1: even keys under the ORIGINAL names (k, price, pri)
      vt.append(t.orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderpriority").as("pri")))
      // v2: metadata-only rename — v1's files stay, stored as `price`
      vt.renameColumn("price", "amount")
      // v3: odd keys divisible by 3, written under the NEW name
      vt.append(t.orders
        .filter(col("o_orderkey") % 2 =!= 0 && col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("amount"),
          col("o_orderpriority").as("pri")))
      // v4: metadata-only drop — `pri`'s storage name is retired
      vt.dropColumn("pri")
      // v5: re-ADD `pri` (different derivation) — must get synthesized
      // storage, never v1/v3's still-on-disk values
      vt.appendEvolve(t.orders
        .filter(col("o_orderkey") % 2 =!= 0 && col("o_orderkey") % 3 =!= 0 &&
          col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("amount"),
          substring(col("o_orderpriority"), 1, 1).as("pri")))
      dir
    }

  def qTableRename(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("amount"), 2).as("total"),
        count(col("pri")).as("n_pri"), min(col("pri")).as("min_pri"),
        max(col("k")).as("max_k"))
  }
}

/** Contract query for APPLY CHANGES INTO: orders' even keys seed a
  * vtable, then ONE mixed CDC batch applies — updates that are really
  * inserts (odd keys ÷3, not in the base), plain inserts (odd ÷5 not
  * ÷3), and per-key conflicts where an update at seq 1 loses to a
  * delete at seq 2 (even keys ÷7). The DuckDB oracle reconstructs the
  * final snapshot from orders alone, so resolution order, delete
  * semantics, and upsert projection are all hash-gated. Memoized per
  * (session, corpus) like [[TableMerge]].
  */
object TableApply {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tapply")
      val dir = parent + "/orders_a"
      val vt = VersionedTable(t.spark, dir)
      val o = t.orders.select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price"))
      vt.append(o.filter(col("k") % 2 === 0))
      val ct = VersionedTable.ChangeTypeCol
      val batch = o.filter(col("k") % 2 =!= 0 && col("k") % 3 === 0)
        .select(col("k"), (col("price") + 1000).as("price"),
          lit("update_postimage").as(ct), lit(1).as("seq"))
        .unionByName(o.filter(col("k") % 2 =!= 0 && col("k") % 3 =!= 0 &&
            col("k") % 5 === 0)
          .select(col("k"), col("price"), lit("insert").as(ct), lit(1).as("seq")))
        .unionByName(o.filter(col("k") % 2 === 0 && col("k") % 7 === 0)
          .select(col("k"), (col("price") + 5).as("price"),
            lit("update_postimage").as(ct), lit(1).as("seq")))
        .unionByName(o.filter(col("k") % 2 === 0 && col("k") % 7 === 0)
          .select(col("k"), col("price"), lit("delete").as(ct), lit(2).as("seq")))
      vt.applyChanges(batch, "k", orderBy = "seq")
      dir
    }

  def qTableApply(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
  }
}

/** Contract query for Bloom-index point lookups: orders lands in a
  * vtable keyed by `md5(o_orderkey)` — a uuid-shaped key whose
  * per-file [min,max] ranges all span the hex domain, so RANGE
  * skipping can never carry a file — split across 8 files with a
  * Bloom sidecar on the key. The query is a point lookup through
  * `readWhere`, which opens only the files the filter admits; the
  * oracle applies the same md5-equality filter in plain SQL, gating
  * that index-driven skipping returns exactly the filtered rows.
  * Memoized per (session, corpus) like [[TableMerge]].
  */
object TableBloom {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tbloom")
      val dir = parent + "/orders_b"
      val vt = VersionedTable(t.spark, dir)
      vt.enableBloom(Seq("k"), expectedItemsPerFile = 1L << 18, fpp = 0.001)
      vt.append(t.orders
        .select(md5(col("o_orderkey").cast("string").cast("binary")).as("k"),
          col("o_totalprice").as("price"))
        .repartition(8))
      dir
    }

  def qBloomLookup(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    val probe = java.security.MessageDigest.getInstance("MD5")
      .digest("100".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    VersionedTable(t.spark, builtTable(t))
      .readWhere(col("k") === probe)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(graft.operators.Rnd.round(sum("price"), 2), lit(0.0)).as("total"))
  }
}

/** Contract query for the per-file KLL/theta SKETCH SIDECARS
  * (`q_sketch_sidecars`): a sketch-indexed table goes through append
  * (keys %3 ∈ {0,1}) then overwrite (keys %3 ∈ {1,2}); the query then
  * answers — with ZERO data scan, from manifest-adjacent sidecar
  * bytes alone — the head snapshot's p50/p95 of `price` (merged KLL
  * sidecars) and the distinct-key overlap between version 1 and the
  * head (intersected theta sidecars: retention across an overwrite,
  * the set operation HLL sidecars structurally cannot do).
  *
  * DuckDB-oracled as a BOUND-VERIFICATION REPLAY like q_kll_quantiles:
  * the metadata-only estimates export as the decision table; both
  * engines independently recompute the exact rank spans and the exact
  * key overlap from raw lineitem rows and hash-compare the
  * within-bound flags (KLL k=200 → ~1.65% rank error, audit allows
  * 3% + 1; theta lgK=12 → audit allows 5% ∨ 3). Memoized per
  * (session, corpus) like [[TableBloom]].
  */
object TableSketch {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tsketch")
      val dir = parent + "/orders_sk"
      val vt = VersionedTable(t.spark, dir)
      vt.enableSketch(kllColumns = Seq("price"), thetaColumns = Seq("k"))
      val base = t.lineitem.select(col("l_orderkey").as("k"),
        col("l_extendedprice").as("price"))
      vt.append(base.filter(pmod(col("k"), lit(3)) < 2).repartition(4))
      vt.overwrite(base.filter(pmod(col("k"), lit(3)) >= 1).repartition(4))
      dir
    }

  /** The `table_stats` TVF's manifest-exact columns under the hash
    * gate: rows, null counts and bounds come from commit metadata
    * (zero data scan), and the oracle recomputes the identical values
    * from raw lineitem rows — any drift in the stats arithmetic or
    * the bound stringification diverges the hash. The approx columns
    * (NDV, quantiles) are bound-verified by `q_sketch_sidecars`.
    */
  def qTableStats(t: Tables): DataFrame = {
    val dir = builtTable(t)
    t.spark.sql(
      s"""SELECT col_name, n_rows, n_nulls, min_val, max_val
         |FROM table_stats('$dir')
         |ORDER BY col_name""".stripMargin)
  }

  def qSketchSidecars(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    val vt = VersionedTable(t.spark, builtTable(t))
    // driver-side METADATA reads — the whole point: no data file opens
    val qs = vt.approxQuantiles("price", Seq(0.5, 0.95)).getOrElse(
      throw new IllegalStateException("kll sidecars must cover the snapshot"))
    val overlap = vt.approxKeyOverlap("k", v1 = 1, v2 = 2).getOrElse(
      throw new IllegalStateException("theta sidecars must cover both versions"))
    val est = t.spark.range(1).select(
      lit(qs(0)).as("v50"), lit(qs(1)).as("v95"), lit(overlap).as("est_overlap"))
    val decided = graft.util.OracleExports.materialize(est, "sketch_sidecars")
    val head = vt.read()
    val audit = head.crossJoin(broadcast(decided))
      .agg(count(lit(1)).as("n"),
        sum(when(col("price") <= col("v50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("price") < col("v50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("price") <= col("v95"), 1L).otherwise(0L)).as("le95"),
        sum(when(col("price") < col("v95"), 1L).otherwise(0L)).as("lt95"))
    val exactOv = vt.read(1).select("k").intersect(vt.read(2).select("k"))
      .agg(count(lit(1)).as("ex_overlap"))
    def ok(le: String, lt: String, p: Double) = {
      val eps = col("n") * 0.03 + lit(1.0)
      (col(le) >= col("n") * p - eps) && (col(lt) <= col("n") * p + eps)
    }
    decided.crossJoin(broadcast(audit)).crossJoin(broadcast(exactOv))
      .select(
        graft.operators.Rnd.round(col("v50"), 4).as("p50"),
        graft.operators.Rnd.round(col("v95"), 4).as("p95"),
        col("n"),
        ok("le50", "lt50", 0.5).as("p50_ok"),
        ok("le95", "lt95", 0.95).as("p95_ok"),
        col("est_overlap"),
        (abs(col("est_overlap") - col("ex_overlap")) <=
          greatest(col("ex_overlap") * 0.05, lit(3.0))).as("overlap_ok"))
  }
}

/** Contract query for the row-level change feed: a tracked table goes
  * through append (evens) → MERGE (keys divisible by 3, price-bumped —
  * half match, half insert) → DELETE (keys divisible by 5), then the
  * WHOLE feed since version 0 is aggregated per (commit, change type).
  * The oracle reconstructs every change class in plain SQL — insert
  * rows from the append diff, pre/postimages from the merge join,
  * deletes against the post-merge snapshot — so the feed's content
  * (not just its row counts) is under the DuckDB gate. Memoized per
  * (session, corpus) like [[TableMerge]].
  */
object TableCdf {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tcdf")
      val dir = parent + "/orders_c"
      val vt = VersionedTable(t.spark, dir)
      vt.enableCdf()
      val base = t.orders.select(col("o_orderkey"), col("o_totalprice").as("price"))
      vt.append(base.filter(col("o_orderkey") % 2 === 0))
      vt.merge(
        base.filter(col("o_orderkey") % 3 === 0)
          .withColumn("price", graft.operators.Rnd.round(col("price") * 1.1, 2)),
        "o_orderkey")
      vt.delete(base.filter(col("o_orderkey") % 5 === 0).select("o_orderkey"),
        "o_orderkey")
      dir
    }

  def qCdf(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).readChangesSince(0)
      .groupBy(col(VersionedTable.CommitVersionCol).as("commit_version"),
        col(VersionedTable.ChangeTypeCol).as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("price"), 2).as("total"))
      .orderBy("commit_version", "change_type")
  }

  /** The SAME feed through the `table_changes()` SQL table function —
    * one oracle text gates both entry points (`q_tvf_changes` shares
    * q_cdf's oracle verbatim), so the TVF can never drift from the
    * API it wraps.
    */
  def qTvfChanges(t: Tables): DataFrame = {
    val dir = builtTable(t)
    t.spark.sql(
      s"""SELECT ${VersionedTable.CommitVersionCol} AS commit_version,
         |  ${VersionedTable.ChangeTypeCol} AS change_type,
         |  count(*) AS n_rows,
         |  floor((sum(price)) * 100 + 0.5) / 100 AS total
         |FROM table_changes('$dir', 0)
         |GROUP BY 1, 2 ORDER BY commit_version, change_type""".stripMargin)
  }
}

/** Contract query for stats-based data skipping: orders lands in a
  * vtable range-clustered on `o_custkey` (so each file carries a
  * tight, disjoint custkey range in its manifest stats), then a
  * BETWEEN over the cluster column reads via `readWhere` — which
  * opens only the overlapping files. Same session-memoized temp-table
  * pattern as [[TableMerge]].
  */
object TableSkip {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val parent = graft.util.TempDirs.createWithCleanup("graft-tskip")
      val dir = parent + "/orders_s"
      val vt = VersionedTable(t.spark, dir)
      // range-partitioned append = the clustered layout a maintenance
      // loop (compact + clusterBy) keeps on a long-lived table
      vt.append(t.orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartitionByRange(8, col("o_custkey")))
      dir
    }

  def qVtableSkip(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t))
      .readWhere(col("o_custkey").between(100L, 500L))
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("o_totalprice"), 2).as("total"),
        min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"))
  }

  /** Disjunctive skipping end to end: an OR whose branches are a
    * clustered-key band conjoined with a price floor, and a second
    * key band. Each branch extracts its own constraint set and a file
    * opens only when SOME branch survives its stats
    * ([[DataSkipping]]'s OrOf) — on the range-clustered layout the
    * two bands admit disjoint file subsets, so the scan opens their
    * union, not the whole table. The oracle applies the same
    * disjunction in SQL: skipping must never change WHICH rows match.
    */
  def qVtableOr(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t))
      .readWhere((col("o_custkey").between(20L, 80L) && col("o_totalprice") > 2000) ||
        col("o_custkey").between(120L, 140L))
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("o_totalprice"), 2).as("total"),
        min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"))
  }

  /** The LAZY scan twin of [[qVtableSkip]]: the filter reaches the
    * table through plain SQL over a temp view — no readWhere call
    * anywhere — and the injected optimizer rule must still collapse
    * it to the pruned file scan. Same invariant (skipping never
    * changes WHICH rows match), so the oracle is the plain filtered
    * aggregate over orders.
    */
  def qVtableLazy(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).scan()
      .createOrReplaceTempView("__graft_vt_lazy")
    t.spark.sql(
      """SELECT count(*) AS n_rows,
        |       floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total,
        |       min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok
        |FROM __graft_vt_lazy
        |WHERE o_custkey BETWEEN 700 AND 900 AND o_totalprice > 1000""".stripMargin)
  }

  /** A key table whose content exists only as DATA (no predicate in
    * any plan): the deterministic 1-in-97 custkeys, written to parquet
    * once per corpus. Joining the vtable scan to it exercises DYNAMIC
    * file pruning — static constraint propagation has nothing to
    * push, so any file skipping comes from the executed key bounds.
    */
  private val keyDirs = new graft.util.CorpusMemo[String]()
  private[graft] def builtKeys(t: Tables): String =
    keyDirs.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      val dir = graft.util.TempDirs.createWithCleanup("graft-tskip-keys") + "/keys"
      t.orders.select(col("o_custkey").as("k"))
        .filter(pmod(col("k"), lit(97)) === 0).distinct()
        .coalesce(1).write.parquet(dir)
      dir
    }

  /** Semi-join of the vtable scan against the parquet key table:
    * result-gated by the oracle below; the file skipping itself (DFP
    * from executed bounds) is asserted in VTableScanSpec. The oracle
    * reconstructs the key set with the same mod predicate over orders.
    */
  def qVtableDfp(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = t.spark.read.parquet(builtKeys(t))
    VersionedTable(t.spark, builtTable(t)).scan()
      .join(keys, col("o_custkey") === col("k"), "left_semi")
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("o_totalprice"), 2).as("total"),
        min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"))
  }

  /** IN-set data skipping through `readWhere(isin)`: a sparse key
    * set over the range-clustered table opens only the files whose
    * [min,max] admit SOME key — the point-set constraint the band
    * form of skipping can't express (a wide-straddling pair of keys
    * bands to the whole table). Oracled as the plain IN filter.
    */
  def qVtableIn(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t))
      .readWhere(col("o_custkey").isin(97L, 194L, 9700L))
      .agg(count(lit(1)).as("n_rows"),
        graft.operators.Rnd.round(sum("o_totalprice"), 2).as("total"),
        min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"))
  }

  /** Metadata-only aggregate over the vtable: count(*) + numeric
    * min/max answer from the commit manifest's per-file stats (zero
    * data files opened — VTableScanSpec asserts the scan-free plan);
    * the DuckDB oracle computes the same aggregates the honest way
    * over orders, gating the manifest's arithmetic against the data.
    */
  def qVtableMeta(t: Tables): DataFrame = {
    VersionedTable(t.spark, builtTable(t)).scan()
      .createOrReplaceTempView("__graft_vt_meta")
    t.spark.sql(
      """SELECT count(*) AS n_rows, count(o_custkey) AS n_ck,
        |       min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok,
        |       min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
        |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM __graft_vt_meta""".stripMargin)
  }
}

/** Contract fixture for table BRANCHES ([[VersionedTable.createBranch]]
  * / [[VersionedTable.mergeBranch]]): a part-catalog snapshot forks a
  * branch, the branch updates one key slice, deletes another, and
  * inserts derived rows while the PARENT updates a disjoint slice —
  * then the branch merges back through the change-feed replay, with
  * the three-way conflict proof running un-forced (disjoint keys must
  * pass it). The final snapshot is fully DuckDB-oracled row-for-row by
  * reconstructing the same edits in plain SQL over `part`, so the
  * whole chain — zero-copy fork, branch-local commits, feed replay,
  * conflict detection — sits under one hash gate. Memoized per
  * (session, corpus) like [[TableMerge]].
  */
object TableBranch {

  private val tables = new graft.util.CorpusMemo[String]()

  private[graft] def builtTable(t: Tables): String =
    tables.getOrBuild(t) {
      import org.apache.spark.sql.functions._
      import graft.operators.Rnd.round
      val parent = graft.util.TempDirs.createWithCleanup("graft-tbranch")
      val dir = parent + "/catalog"
      val vt = VersionedTable(t.spark, dir)
      // parent history must be row-replayable for the merge's safety
      // proof — change tracking on from the first commit
      vt.enableCdf()
      vt.append(t.part.select(col("p_partkey").as("k"),
        col("p_name").as("name"), col("p_retailprice").as("price")))
      // immutable pin at the pristine seed — qTableTag reads it back
      // through `VERSION AS OF 'seed'` after the head has moved
      vt.createTag("seed")
      val br = vt.createBranch("exp")
      br.updateWhere(col("k") % 10 === 0,
        Map("price" -> round(col("price") * 1.05, 2)))
      br.deleteWhere(col("k") % 10 === 4)
      br.append(t.part.filter(col("p_partkey") % 10 === 6)
        .select((col("p_partkey") + lit(10000000L)).as("k"),
          col("p_name").as("name"),
          round(col("p_retailprice") / 2, 2).as("price")))
      // the parent moves too — on a DISJOINT key slice, so the
      // un-forced merge must prove safety and proceed
      vt.updateWhere(col("k") % 10 === 1,
        Map("price" -> round(col("price") + 1, 2)))
      vt.mergeBranch("exp", key = "k")
      dir
    }

  def qTableBranch(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    VersionedTable(t.spark, builtTable(t)).read()
      .select("k", "name", "price")
      .orderBy("k")
  }

  /** Branch READ over plain SQL: one statement joins the parent head
    * against `t BRANCH 'exp'` (lowered by
    * [[graft.service.SqlDml.rewriteBranchReads]] +
    * [[graft.plans.VTableTimeTravel]] to the branch-head scan — the
    * `table_branch` TVF's semantics). On this fixture the live branch
    * trails the parent by exactly the parent's own post-fork slice
    * (k % 10 = 1, +1), so the divergence set is fully SQL-derivable.
    */
  def qBranchRead(t: Tables): DataFrame = {
    val dir = builtTable(t)
    val tgt = s"__graft_brread_${System.identityHashCode(t.spark)}_" +
      t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
    VersionedTable(t.spark, dir).scan().createOrReplaceTempView(tgt)
    new graft.service.QueryService(t.spark).sql(
      s"""SELECT m.k AS k, m.price AS main_price, b.price AS branch_price
         |FROM `$tgt` m JOIN `$tgt` BRANCH 'exp' b ON m.k = b.k
         |WHERE m.price <> b.price
         |ORDER BY k""".stripMargin)
  }

  /** TAG read over plain SQL: one statement joins the post-merge head
    * against `VERSION AS OF 'seed'` — the immutable tag pinned at the
    * pristine seed before any branch/parent commit ([[VersionedTable
    * .createTag]], resolved by [[graft.plans.VTableTimeTravel]]'s
    * named-ref path). The head differs from the seed on exactly the
    * two updated slices (k % 10 = 0 via the branch, = 1 via the
    * parent), so the divergence set is fully SQL-derivable: the tag's
    * durability, name resolution, and the head read all sit under one
    * hash gate.
    */
  def qTableTag(t: Tables): DataFrame = {
    val dir = builtTable(t)
    val tgt = s"__graft_tagread_${System.identityHashCode(t.spark)}_" +
      t.sfDir.replaceAll("[^A-Za-z0-9]", "_")
    VersionedTable(t.spark, dir).scan().createOrReplaceTempView(tgt)
    new graft.service.QueryService(t.spark).sql(
      s"""SELECT h.k AS k, s.price AS seed_price, h.price AS head_price
         |FROM `$tgt` h JOIN `$tgt` VERSION AS OF 'seed' s ON h.k = s.k
         |WHERE h.price <> s.price
         |ORDER BY k""".stripMargin)
  }

  /** Contract query for the retroactive snapshot diff
    * ([[VersionedTable.snapshotDiff]]): v1 (the seed) diffed against
    * the post-merge head of the SAME branch fixture must report
    * exactly the parent's update, the branch's update/delete/insert —
    * every change class in one frame, with no change tracking
    * consulted. FULLY DuckDB-oracled by deriving each class from
    * `part` with the fixture's own CASE arithmetic.
    */
  def qTableDiff(t: Tables): DataFrame = {
    import org.apache.spark.sql.functions._
    val vt = VersionedTable(t.spark, builtTable(t))
    vt.snapshotDiff(1, vt.currentVersion, "k")
      .orderBy("k", VersionedTable.ChangeTypeCol)
  }
}
