package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.sources.{Catalog, VersionedTable}

class VersionedTableSpec extends SparkSpecBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-vtable").toString + "/t"

  test("append accumulates versions; reads are snapshot-consistent") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    val v1 = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val v2 = t.append(Seq((3L, "c")).toDF("id", "name"))
    assert(v1 == 1 && v2 == 2 && t.currentVersion == 2)
    assert(t.read().count() == 3)
    // time travel: version 1 still reads its original 2 rows
    assert(t.read(1).count() == 2)
  }

  test("restore rolls back by commit: old content newest, history intact") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    t.append(Seq((3L, "c")).toDF("id", "name"))
    t.overwrite(Seq((9L, "z")).toDF("id", "name"))
    val v4 = t.restore(2)
    assert(v4 == 4 && t.currentVersion == 4)
    // the restored snapshot IS version 2's content...
    assert(t.read().collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 3L)))
    // ...the "bad" overwrite stays readable (undo is additive)...
    assert(t.read(3).collect().map(_.getLong(0)).sameElements(Array(9L)))
    // ...and history audits the rollback as its own op
    val ops = t.history().collect().map(_.getAs[String]("op"))
    assert(ops.head == "restore", ops.mkString(","))
    // carried stats still drive pruning: a merge after restore only
    // rewrites files whose range intersects — result stays correct
    t.merge(Seq((2L, "B")).toDF("id", "name"), "id")
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1))).sorted
      .sameElements(Array((1L, "a"), (2L, "B"), (3L, "c"))))
    // a restore is a REWRITING commit: the append-CDF across it resyncs
    intercept[IllegalStateException] { t.readAppendsSince(3) }
    // out-of-range target fails fast
    intercept[IllegalArgumentException] { t.restore(99) }
  }

  test("TIMESTAMP AS OF resolves the newest commit at or before the instant") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    t.append(Seq((2L, "b")).toDF("id", "name"))
    t.append(Seq((3L, "c")).toDF("id", "name"))
    // commit wall times come from the manifests themselves (history()),
    // so the assertions hold however fast the commits landed
    val ts = t.history().collect().map(r => r.getInt(0) -> r.getAs[Long]("ts")).toMap
    // at v2's stamp: some version ≥ 2 whose own stamp is ≤ it (= v2,
    // or a later commit that landed in the same millisecond)
    val at2 = t.versionAt(ts(2))
    assert(at2 >= 2 && ts(at2) <= ts(2), s"got v$at2")
    // far future resolves to the newest version; catalog option form
    // agrees, and the ISO spelling parses to the same snapshot
    assert(t.versionAt(ts(3) + 60000L) == 3)
    assert(t.readAsOf(ts(3) + 60000L).count() == 3)
    val cat = new Catalog(spark)
    assert(cat.read("vtable", dir,
      Map("timestampAsOf" -> (ts(3) + 60000L).toString)).count() == 3)
    assert(cat.read("vtable", dir, Map("timestampAsOf" ->
      java.time.Instant.ofEpochMilli(ts(3) + 60000L).toString)).count() == 3)
    // before every commit: explicit error, not a wrong-era read
    intercept[IllegalArgumentException] { t.versionAt(ts(1) - 1) }
    // both travel spellings at once is ambiguous
    intercept[IllegalArgumentException] {
      cat.read("vtable", dir, Map("version" -> "1", "timestampAsOf" -> "0"))
    }
  }

  test("overwrite replaces the snapshot but keeps history readable") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    t.overwrite(Seq((9L, "z")).toDF("id", "name"))
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(t.read(1).count() == 2)
  }

  test("merge has upsert semantics: update matched, insert new, keep rest") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    t.merge(Seq((2L, "b2"), (9L, "new")).toDF("id", "name"), "id")
    val got = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c"), (9L, "new")))
    // pre-merge snapshot untouched
    assert(t.read(1).collect().map(_.getString(1)).toSet == Set("a", "b", "c"))
  }

  test("two writers claiming the same version: exactly one commit wins") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // two table handles race to commit version 2 — the atomic
    // rename-without-replace lets exactly one manifest land
    val winner = VersionedTable(spark, dir)
    winner.commit(2, "append", Seq.empty)
    intercept[java.util.ConcurrentModificationException] {
      t.commit(2, "append", Seq.empty)
    }
    // the loser's failed commit changed nothing; a writer that retries
    // on a fresh snapshot succeeds at the next version
    assert(VersionedTable(spark, dir).currentVersion == 2)
    assert(t.append(Seq((2L, "b")).toDF("id", "name")) == 3)
  }

  test("conditional-put store: OCC holds with no atomic rename anywhere") {
    import spark.implicits._
    // the object-store shape — the claim is a simulated server-side
    // If-None-Match precondition; no link(2), no rename, no mkdir.
    // The same store instance backs every handle (one "bucket").
    val dir = tmp()
    val store = graft.sources.CommitStore.simulatedConditionalPut()
    def handle(): VersionedTable = {
      val t = VersionedTable(spark, dir)
      t.commitStore = store
      t
    }
    val t = handle()
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // two-writer race on version 2: exactly one manifest lands
    val winner = handle()
    winner.commit(2, "append", Seq.empty)
    intercept[java.util.ConcurrentModificationException] {
      t.commit(2, "append", Seq.empty)
    }
    assert(handle().currentVersion == 2)
    // the loser retries on a fresh snapshot and lands at v3
    assert(t.append(Seq((2L, "b")).toDF("id", "name")) == 3)
    // a genuinely concurrent stampede: 8 writers claim version 4,
    // exactly one conditional put succeeds
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val losses = new java.util.concurrent.atomic.AtomicInteger
    (0 until 8).map { _ =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try { handle().commit(4, "append", Seq.empty); wins.incrementAndGet(); () }
          catch {
            case _: java.util.ConcurrentModificationException =>
              losses.incrementAndGet(); ()
          }
      })
    }.foreach(_.get())
    pool.shutdown()
    assert(wins.get() == 1 && losses.get() == 7, s"${wins.get()} wins")
    // a lost DATA commit through this store still cleans its files up
    val stale = handle()
    handle().commit(5, "append", Seq.empty, """{"type":"struct","fields":[]}""")
    intercept[java.util.ConcurrentModificationException] {
      stale.commitData(5, "append", Seq((9L, "lost")).toDF("id", "name"), Seq.empty)
    }
    stale.append(Seq((3L, "c")).toDF("id", "name"))
    import scala.jdk.CollectionConverters._
    val dataDirs = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("files-")).toSeq
    assert(dataDirs.size == 3, s"orphaned data dirs: $dataDirs")
  }

  test("CHECK constraints: violating batches refuse and reclaim; add validates existing data") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // the add is itself a versioned metadata commit (v2): it claims a
    // version like any writer, which is what closes the add-vs-write
    // race — and readers of the feed see it as a zero-change commit
    t.addConstraint("id_pos", "id > 0")
    assert(t.currentVersion == 2)
    assert(t.readAppendsSince(1).count() == 0,
      "a constraint commit must read as zero appended rows, not a resync")
    // a conforming append commits
    assert(t.append(Seq((3L, "c")).toDF("id", "name")) == 3)
    // a violating append refuses BEFORE any manifest claim, and its
    // freshly written files reclaim (no orphans for vacuum to miss)
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((-7L, "bad")).toDF("id", "name"))
    }
    assert(e.getMessage.contains("id_pos"), e.getMessage)
    assert(t.currentVersion == 3 && t.read().count() == 3)
    import scala.jdk.CollectionConverters._
    val dataDirs = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("files-")).toSeq
    assert(dataDirs.size == 2, s"refused batch leaked: $dataDirs")
    // NULL counts as a violation (the quality-gate reading, not the
    // SQL-standard pass)
    intercept[IllegalArgumentException] {
      t.append(Seq((Option.empty[Long], "n")).toDF("id", "name"))
    }
    // MERGE rewrites validate too — an upsert can't sneak a violation in
    intercept[IllegalArgumentException] {
      t.merge(Seq((-1L, "sneak")).toDF("id", "name"), "id")
    }
    assert(t.read().count() == 3)
    // adding a constraint the EXISTING data violates refuses
    val e2 = intercept[IllegalArgumentException] {
      t.addConstraint("name_is_a", "name = 'a'")
    }
    assert(e2.getMessage.contains("existing row"), e2.getMessage)
    // non-boolean expressions refuse at add time
    intercept[IllegalArgumentException] { t.addConstraint("not_bool", "id + 1") }
    // a FAILED add commits nothing — no version moved, nothing enforced
    assert(t.currentVersion == 3)
    // drop lifts enforcement (itself a metadata commit, v4)
    assert(t.dropConstraint("id_pos"))
    assert(!t.dropConstraint("id_pos"))
    assert(t.currentVersion == 4)
    assert(t.append(Seq((-7L, "ok now")).toDF("id", "name")) == 5)
    // time travel: the constraint set is part of each version's
    // metadata, so history answers "what was enforced when"
    assert(t.read(2).count() == 2) // the metadata commit carried v1's files
  }

  test("selective compaction packs only the predicate's files; the settled bulk never rewrites") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // two "settled" day-1 files + three small day-2 ingest files
    t.append(Seq((1L, 1L), (2L, 1L)).toDF("id", "day"))
    t.append(Seq((3L, 1L)).toDF("id", "day"))
    (4 to 6).foreach(i => t.append(Seq((i.toLong, 2L)).toDF("id", "day")))
    val day1Files = t.fileList(2).toSet
    // compact ONLY day 2: the day-1 files must carry forward by path
    val v = t.compact(targetBytes = 10L << 20, where = Some(col("day") === 2))
    assert(v == 6)
    assert(day1Files.subsetOf(t.fileList(v).toSet),
      s"settled files rewritten: ${t.fileList(v)}")
    // the day-2 slice packed down and nothing was lost
    assert(t.fileList(v).size < t.fileList(5).size)
    assert(t.read().collect().map(_.getLong(0)).sorted.toSeq == (1L to 6L))
    // the SQL surface drives the same path
    t.scan().createOrReplaceTempView("opt_where_t")
    val svc = new graft.service.QueryService(spark)
    (7 to 8).foreach(i => t.append(Seq((i.toLong, 3L)).toDF("id", "day")))
    val before = t.fileList(t.currentVersion).size
    val r = svc.sql("OPTIMIZE opt_where_t WHERE day = 3").head().getInt(0)
    assert(r == t.currentVersion)
    assert(t.fileList(t.currentVersion).size < before)
    assert(t.read().count() == 8)
  }

  test("replaceWhere: one-commit slice rebuild, pruned carry-forward, out-of-slice refuses") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "name", "day"))
    t.append(Seq((3L, "c", 2L)).toDF("id", "name", "day"))
    val day2Files = t.fileList(2).toSet -- t.fileList(1).toSet
    // rebuild day 1 in ONE commit
    val v = t.replaceWhere(col("day") === 1,
      Seq((10L, "x", 1L), (11L, "y", 1L)).toDF("id", "name", "day"))
    assert(v == 3)
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((10L, "x"), (11L, "y"), (3L, "c")))
    // stats pruning carried the day-2 file forward by path, untouched
    assert(day2Files.subsetOf(t.fileList(3).toSet),
      s"day-2 file rewritten: ${t.fileList(3)}")
    // exactly one commit: history reads append, append, replace
    assert(t.history().collect().map(_.getString(1)).toSeq ==
      Seq("replace", "append", "append"))
    // an incoming row OUTSIDE the slice refuses the whole operation
    intercept[Exception] {
      t.replaceWhere(col("day") === 1, Seq((9L, "z", 2L)).toDF("id", "name", "day"))
    }
    assert(t.currentVersion == 3, "a refused replace must not commit")
    // time travel still sees the pre-replace slice
    assert(t.read(2).filter(col("day") === 1).count() == 2)
  }

  test("UNIQUE constraints: enforced on appends and rewrites, null-exempt, stats-pruned overlap") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    t.addUniqueConstraint("id_uq", Seq("id"))
    assert(t.currentVersion == 2)
    // a fresh batch colliding with EXISTING keys refuses (cross-file)
    val e1 = intercept[IllegalArgumentException] {
      t.append(Seq((2L, "dup")).toDF("id", "name"))
    }
    assert(e1.getMessage.contains("id_uq") &&
      e1.getMessage.contains("already exists"), e1.getMessage)
    // a batch duplicating WITHIN itself refuses
    val e2 = intercept[IllegalArgumentException] {
      t.append(Seq((7L, "x"), (7L, "y")).toDF("id", "name"))
    }
    assert(e2.getMessage.contains("inside"), e2.getMessage)
    assert(t.read().count() == 3, "refused batches must not land")
    // disjoint keys append fine
    t.append(Seq((4L, "d")).toDF("id", "name"))
    // an UPDATE that would collide two keys refuses — the rewritten
    // files overlap a carried file's key
    val e3 = intercept[IllegalArgumentException] {
      t.updateWhere(org.apache.spark.sql.functions.col("id") === 4L,
        Map("id" -> org.apache.spark.sql.functions.lit(1L)))
    }
    assert(e3.getMessage.contains("id_uq"), e3.getMessage)
    // merge ON the unique key stays legal (upsert preserves key sets)
    t.merge(Seq((4L, "d2"), (9L, "new")).toDF("id", "name"), "id")
    assert(t.read().filter(org.apache.spark.sql.functions.col("id") === 4L)
      .head().getString(1) == "d2")
    // NULL keys are exempt (SQL UNIQUE: NULLs are distinct)
    t.append(Seq((Option.empty[Long], "n1")).toDF("id", "name"))
    t.append(Seq((Option.empty[Long], "n2")).toDF("id", "name"))
    assert(t.read().count() == 7)
    // adding UNIQUE over data that already duplicates refuses
    val t2 = VersionedTable(spark, tmp())
    t2.append(Seq((1L, "a"), (1L, "b")).toDF("id", "name"))
    val e4 = intercept[IllegalArgumentException] {
      t2.addUniqueConstraint("u", Seq("id"))
    }
    assert(e4.getMessage.contains("duplicate"), e4.getMessage)
    // multi-column UNIQUE: pair must repeat to refuse
    val t3 = VersionedTable(spark, tmp())
    t3.append(Seq((1L, "a"), (1L, "b")).toDF("k1", "k2"))
    t3.addUniqueConstraint("pair", Seq("k1", "k2"))
    t3.append(Seq((2L, "a")).toDF("k1", "k2")) // same k2, new k1: fine
    intercept[IllegalArgumentException] {
      t3.append(Seq((1L, "a")).toDF("k1", "k2"))
    }
    // drop lifts enforcement
    assert(t3.dropConstraint("pair"))
    t3.append(Seq((1L, "a")).toDF("k1", "k2"))
    assert(t3.read().count() == 4)
  }

  test("UNIQUE over SQL: ALTER TABLE ADD CONSTRAINT ... UNIQUE routes to the vtable; PK refuses with guidance") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    t.scan().createOrReplaceTempView("uq_sql_t")
    val svc = new graft.service.QueryService(spark)
    val v = svc.sql("ALTER TABLE uq_sql_t ADD CONSTRAINT k_uq UNIQUE (k)")
      .head().getInt(0)
    assert(v == 2 && t.constraintList.exists(_._1 == "k_uq"))
    intercept[Exception] {
      svc.sql("INSERT INTO uq_sql_t VALUES (2, 99.0)")
    }
    assert(t.read().count() == 2)
    // the plain-parser entry point enforces too
    intercept[Exception] {
      spark.sql("INSERT INTO uq_sql_t VALUES (1, 5.0)")
    }
    // PRIMARY KEY points at the enforced spelling instead
    val e = intercept[IllegalArgumentException] {
      svc.sql("ALTER TABLE uq_sql_t ADD CONSTRAINT pk PRIMARY KEY (k)")
    }
    assert(e.getMessage.contains("UNIQUE"), e.getMessage)
    // DROP CONSTRAINT lifts it over SQL
    svc.sql("ALTER TABLE uq_sql_t DROP CONSTRAINT k_uq").collect()
    assert(svc.sql("INSERT INTO uq_sql_t VALUES (2, 99.0)").head().getInt(0) >= 3)
  }

  test("metadata TVFs: table_history and table_files serve the commit log and file listing as relations") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    t.append(Seq((3L, "c")).toDF("id", "name"))
    t.deleteWhere(org.apache.spark.sql.functions.col("id") === 1L)
    t.scan().createOrReplaceTempView("meta_tvf_t")
    // history as a relation: filterable, joinable, ordered
    val ops = spark.sql(
      "SELECT version, op FROM table_history('meta_tvf_t') ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(ops == Seq((1, "append"), (2, "append"), (3, "delete")), ops.toString)
    assert(spark.sql(
      "SELECT count(*) AS n FROM table_history('meta_tvf_t', 2)").head().getLong(0) == 2)
    // files at head vs a past version; rows from the per-file stats
    val head = spark.sql(s"SELECT * FROM table_files('$dir')").collect()
    assert(head.nonEmpty && head.forall(_.getLong(2) > 0))
    assert(head.map(_.getLong(1)).sum == t.read().count())
    val atV1 = spark.sql(s"SELECT sum(rows) AS r FROM table_files('$dir', 1)")
      .head().getLong(0)
    assert(atV1 == 2L, s"v1 held 2 rows, files said $atV1")
    // unknown names refuse loudly
    val e = intercept[Exception](
      spark.sql("SELECT * FROM table_history('no_such_view')").collect())
    assert(e.getMessage.contains("no_such_view"), e.getMessage)
  }

  test("UNIQUE constraints hold through applyChanges (the CDC/replica path)") {
    import spark.implicits._
    val t = VersionedTable(spark, tmp())
    t.append(Seq((1L, 10.0, "x"), (2L, 20.0, "y")).toDF("k", "v", "u"))
    t.addUniqueConstraint("u_uq", Seq("u"))
    // an apply batch keyed on k whose upsert duplicates the SECONDARY
    // unique column must refuse — the rewritten files overlap a
    // carried file's u value
    val bad = Seq((3L, 30.0, "x", 1L, "insert"))
      .toDF("k", "v", "u", "_seq", "_change_type")
    val e = intercept[IllegalArgumentException] {
      t.applyChanges(bad, key = "k", orderBy = "_seq")
    }
    assert(e.getMessage.contains("u_uq"), e.getMessage)
    // a clean apply lands
    val ok = Seq((3L, 30.0, "z", 1L, "insert"))
      .toDF("k", "v", "u", "_seq", "_change_type")
    t.applyChanges(ok, key = "k", orderBy = "_seq")
    assert(t.read().count() == 3)
  }

  test("constraint-referenced columns refuse drop/rename; multi-column DDL is one commit") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a", 5.0)).toDF("id", "name", "score"))
    t.addConstraint("score_pos", "score > 0")
    // dropping or renaming a constrained column would leave the table
    // unwritable (every commit re-analyzes the stored expression) —
    // both refuse with the constraint named, like the bloom/NDV guard
    val e1 = intercept[IllegalArgumentException] { t.dropColumn("score") }
    assert(e1.getMessage.contains("score_pos"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] { t.renameColumn("score", "s2") }
    assert(e2.getMessage.contains("score_pos"), e2.getMessage)
    // unreferenced columns still evolve freely (v2 was the add)
    assert(t.renameColumn("name", "title") == 3)
    // multi-column ADD is all-or-nothing: a duplicate in the list
    // refuses BEFORE anything commits (no half-applied schema)
    intercept[IllegalArgumentException] {
      t.addColumns(Seq("x" -> org.apache.spark.sql.types.IntegerType,
        "x" -> org.apache.spark.sql.types.DoubleType))
    }
    assert(t.currentVersion == 3)
    assert(!t.read().columns.contains("x"))
    // and a valid list lands as ONE commit
    assert(t.addColumns(Seq("x" -> org.apache.spark.sql.types.IntegerType,
      "y" -> org.apache.spark.sql.types.DoubleType)) == 4)
    assert(t.read().columns.toSeq == Seq("id", "title", "score", "x", "y"))
    // multi-column DROP likewise: one bad name, nothing drops
    intercept[IllegalArgumentException] { t.dropColumns(Seq("x", "nope")) }
    assert(t.read().columns.contains("x"))
    assert(t.dropColumns(Seq("x", "y")) == 5)
    assert(t.read().columns.toSeq == Seq("id", "title", "score"))
  }

  test("a writer that validated against the old constraint set loses the claim and re-validates") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // force the EXACT interleaving the round-10 design left open: a
    // violating append passes validateConstraints (no constraint yet)
    // and reaches its claim of v2 — at which instant addConstraint
    // claims v2 first. The append must lose, retry on the new head,
    // re-validate against the now-visible constraint, and refuse.
    val inner = t.commitStore
    @volatile var fired = false
    t.commitStore = new graft.sources.CommitStore {
      def putIfAbsent(target: java.nio.file.Path, bytes: Array[Byte],
          what: String): Unit = {
        if (!fired && what.startsWith("version 2 ")) {
          fired = true // the add below re-enters this store; let it through
          t.addConstraint("id_pos", "id > 0")
        }
        inner.putIfAbsent(target, bytes, what)
      }
    }
    try {
      val e = intercept[IllegalArgumentException] {
        t.append(Seq((-5L, "sneak")).toDF("id", "name"))
      }
      assert(e.getMessage.contains("id_pos"), e.getMessage)
    } finally t.commitStore = inner
    assert(fired, "the interleaving hook must have run")
    // the add won version 2; the violating rows never landed
    assert(t.currentVersion == 2)
    assert(t.constraintList == Seq("id_pos" -> "id > 0"))
    assert(t.read().count() == 1)
  }

  test("legacy sidecar constraints: enforced, unreadable refuses, migrated by the next mutation") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // simulate a pre-versioned-constraints table: constraints in the
    // unversioned sidecar, no node in any manifest
    val sidecar = java.nio.file.Paths.get(dir, "_graft_log", "_constraints")
    Files.write(sidecar, """{"id_pos":"id > 0"}""".getBytes)
    assert(t.constraintList == Seq("id_pos" -> "id > 0"))
    intercept[IllegalArgumentException] {
      t.append(Seq((-3L, "bad")).toDF("id", "name"))
    }
    // an unreadable LEGACY constraint file REFUSES writes rather than
    // committing with enforcement silently off
    Files.write(sidecar, "not json".getBytes)
    intercept[IllegalStateException] {
      t.append(Seq((2L, "b")).toDF("id", "name"))
    }
    Files.write(sidecar, """{"id_pos":"id > 0"}""".getBytes)
    // the next constraint mutation folds the sidecar into the
    // manifest (now the authority) and sweeps the legacy file
    t.addConstraint("name_set", "name IS NOT NULL")
    assert(!Files.exists(sidecar), "legacy sidecar must be swept after migration")
    assert(t.constraintList.map(_._1) == Seq("id_pos", "name_set"))
    // a STALE sidecar reappearing cannot shadow the manifest: a
    // constraints node — even an emptied one — outranks it
    assert(t.dropConstraint("id_pos") && t.dropConstraint("name_set"))
    Files.write(sidecar, """{"ghost":"id < 0"}""".getBytes)
    assert(t.constraintList.isEmpty, "manifest node must outrank a stale sidecar")
    assert(t.append(Seq((-9L, "ok")).toDF("id", "name")) > 0)
  }

  test("reopening the table sees the committed log; Catalog serves it") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    t.append(Seq((2L, "b")).toDF("id", "name"))
    assert(VersionedTable(spark, dir).currentVersion == 2)
    val cat = new Catalog(spark)
    assert(cat.read("vtable", dir).count() == 2)
    assert(cat.read("vtable", dir, Map("version" -> "1")).count() == 1)
  }

  test("a lost race cleans up its data files; winner's snapshot intact") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // interloper claims version 2 between this handle's snapshot read
    // and its commit: simulate by pre-claiming v2, then driving the
    // write+claim path at the stale version
    VersionedTable(spark, dir).commit(2, "append", Seq.empty, """{"type":"struct","fields":[]}""")
    intercept[java.util.ConcurrentModificationException] {
      t.commitData(2, "append", Seq((9L, "lost")).toDF("id", "name"), Seq.empty)
    }
    // the loser's freshly written files-* directory was removed, and a
    // retry on a fresh snapshot lands at v3
    t.append(Seq((2L, "b")).toDF("id", "name"))
    import scala.jdk.CollectionConverters._
    val dataDirs = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("files-")).toSeq
    assert(dataDirs.size == 2, s"orphaned data dirs: $dataDirs")
    // the retry appended onto the interloper's (empty) v2 manifest;
    // v1's snapshot is still readable via time travel
    assert(t.read().collect().map(_.getString(1)).toSet == Set("b"))
    assert(t.read(1).collect().map(_.getString(1)).toSet == Set("a"))
  }

  test("empty overwrite commits and reads back as an empty typed snapshot") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    t.overwrite(Seq.empty[(Long, String)].toDF("id", "name"))
    val snap = t.read()
    assert(snap.count() == 0 && snap.columns.toSeq == Seq("id", "name"))
    assert(t.read(1).count() == 1)
  }

  test("opening or reading a never-committed path has no filesystem side effects") {
    val dir = tmp() // path does not exist at all
    val e = intercept[IllegalArgumentException] {
      VersionedTable(spark, dir).read()
    }
    assert(e.getMessage.contains("no committed version"))
    assert(!Files.exists(java.nio.file.Paths.get(dir)), "read created directories")
  }

  test("vacuum drops old history's files but keeps retained versions intact") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))       // v1: files A
    t.overwrite(Seq((2L, "b")).toDF("id", "name"))    // v2: files B (A now historical)
    t.merge(Seq((2L, "b2")).toDF("id", "name"), "id") // v3: files C (B historical)
    val deleted = t.vacuum(retainVersions = 1)
    assert(deleted > 0, "expected historical files to be deleted")
    // current snapshot unaffected; dropped history unreadable
    assert(t.read().collect().map(_.getString(1)).toSeq == Seq("b2"))
    intercept[Exception] { t.read(1).collect() }
    // a second vacuum is a no-op
    assert(t.vacuum(retainVersions = 1) == 0)
    // appends keep working after vacuum
    t.append(Seq((3L, "c")).toDF("id", "name"))
    assert(t.read().count() == 2)
  }

  test("vacuum never deletes files still referenced by a retained version") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))  // v1: files A
    t.append(Seq((2L, "b")).toDF("id", "name"))  // v2: files A + B
    // retain only v2 — v1's manifest goes, but file A is still live in v2
    t.vacuum(retainVersions = 1)
    assert(t.read().collect().map(_.getString(1)).toSet == Set("a", "b"))
  }

  test("merge rewrites only files whose key range intersects the update set") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // two appends with disjoint key ranges → one file each, disjoint stats
    t.append(Seq.tabulate(10)(i => (i.toLong, s"low$i")).toDF("id", "name").coalesce(1))
    t.append(Seq.tabulate(10)(i => (1000L + i, s"hi$i")).toDF("id", "name").coalesce(1))
    val lowFiles = t.fileList(1)
    val hiFiles = t.fileList(2).filterNot(lowFiles.contains)
    assert(lowFiles.size == 1 && hiFiles.size == 1)
    // update keys land entirely in the hi file's [1000,1009] range
    val v3 = t.merge(Seq((1005L, "updated"), (2000L, "brand-new")).toDF("id", "name"), "id")
    val after = t.fileList(v3)
    // the low file is carried forward by its EXACT path — never rewritten
    assert(lowFiles.forall(after.contains), s"low files not carried: $after")
    // the hi file was rewritten out of the snapshot
    assert(hiFiles.forall(f => !after.contains(f)), s"hi file not rewritten: $after")
    // and the result is the full upsert answer
    val got = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = Seq.tabulate(10)(i => (i.toLong, s"low$i")).toSet ++
      Seq.tabulate(10)(i => (1000L + i, if (i == 5) "updated" else s"hi$i")) +
      ((2000L, "brand-new"))
    assert(got == expect)
    // a carried file still prunes on the NEXT merge (stats carried too)
    val v4 = t.merge(Seq((1001L, "again")).toDF("id", "name"), "id")
    assert(lowFiles.forall(t.fileList(v4).contains), "carried stats lost on re-merge")
  }

  test("delete prunes untouched files and drops only the named keys") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq.tabulate(10)(i => (i.toLong, s"low$i")).toDF("id", "name").coalesce(1))
    t.append(Seq.tabulate(10)(i => (1000L + i, s"hi$i")).toDF("id", "name").coalesce(1))
    val lowFiles = t.fileList(1)
    // delete keys land entirely in the hi file's range; 1999 matches nothing
    val v3 = t.delete(Seq(1003L, 1007L, 1999L).toDF("id"), "id")
    val after = t.fileList(v3)
    assert(lowFiles.forall(after.contains), s"low file rewritten: $after")
    assert(t.read().count() == 18)
    val ids = t.read().select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(1003L) && !ids.contains(1007L) && ids.contains(1999L) == false)
    assert(ids.contains(1001L) && ids.contains(5L))
    // history intact: the pre-delete snapshot still has all 20
    assert(t.read(2).count() == 20)
    // empty delete set: visible no-op carrying every file
    val v4 = t.delete(Seq.empty[Long].toDF("id"), "id")
    assert(t.fileList(v4) == after && t.read().count() == 18)
  }

  test("deleteWhere prunes by stats and applies SQL three-valued delete semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq.tabulate(10)(i => (i.toLong, s"low$i")).toDF("id", "name").coalesce(1))
    t.append(Seq.tabulate(10)(i => (1000L + i, s"hi$i")).toDF("id", "name").coalesce(1))
    val lowFiles = t.fileList(1)
    // retention sweep entirely inside the hi file's range
    val v3 = t.deleteWhere(col("id") >= 1005L)
    val after = t.fileList(v3)
    assert(lowFiles.forall(after.contains), s"low file rewritten: $after")
    assert(t.read().count() == 15)
    assert(t.read().filter(col("id") >= 1005L).count() == 0)
    // pre-delete snapshot intact
    assert(t.read(2).count() == 20)
    // a predicate matching nothing anywhere: visible no-op, all files carried
    val v4 = t.deleteWhere(col("id") > 99999L)
    assert(t.fileList(v4) == after && t.read().count() == 15)
    // NULL predicate keeps the row: id IS NULL rows survive a value test
    val t2 = VersionedTable(spark, tmp())
    t2.append(Seq(Some(1L), None, Some(30L)).toDF("id"))
    t2.deleteWhere(col("id") > 10L)
    val left = t2.read().collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(left == Set(Some(1L), None), s"three-valued delete broke: $left")
    // unrecognized conjunct (arithmetic) prunes nothing but deletes right
    val v5 = t.deleteWhere(expr("id % 2 = 1 and id < 10"))
    assert(t.read(v5).filter(expr("id % 2 = 1 and id < 10")).count() == 0)
    assert(t.read(v5).count() == 10)
  }

  test("updateWhere rewrites only overlapping files, old values feed assignments") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq.tabulate(5)(i => (i.toLong, 10.0 * i)).toDF("id", "price").coalesce(1))
    t.append(Seq.tabulate(5)(i => (100L + i, 1000.0 + i)).toDF("id", "price").coalesce(1))
    val lowFiles = t.fileList(1)
    // hit only the hi file; swap-style pair proves OLD values feed
    // every assignment (price uses pre-update id, id uses +1000)
    val v3 = t.updateWhere(col("id") >= 100L,
      Map("price" -> (col("id").cast("double") * 2), "id" -> (col("id") + 1000L)))
    assert(lowFiles.forall(t.fileList(v3).contains), "low file rewritten")
    val hi = t.read().filter(col("id") >= 1100L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(hi == (0 until 5).map(i => (1100L + i) -> (100.0 + i) * 2).toMap, hi)
    // untouched rows byte-identical; snapshot history intact
    assert(t.read().filter(col("id") < 100L).collect()
      .map(r => r.getDouble(1)).sorted.toSeq == Seq(0.0, 10.0, 20.0, 30.0, 40.0))
    assert(t.read(2).filter(col("id") === 100L).head().getDouble(1) == 1000.0)
    // no-match predicate: visible no-op, all files carried
    val v4 = t.updateWhere(col("id") > 99999L, Map("price" -> lit(0.0)))
    assert(t.fileList(v4) == t.fileList(v3))
    // widening assignment must be loud, not silent schema drift
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 0L, Map("id" -> lit(1.5)))
    }
    // unknown target column is rejected
    intercept[IllegalArgumentException] {
      t.updateWhere(col("id") === 0L, Map("nope" -> lit(1)))
    }
  }

  test("history lists commits newest-first with op, time, and file counts") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    val before = System.currentTimeMillis()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    t.append(Seq((3L, "c")).toDF("id", "name"))
    t.delete(Seq(1L).toDF("id"), "id")
    val h = t.history().collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(3, 2, 1), "newest first")
    assert(h.map(_.getString(1)).toSeq == Seq("delete", "append", "append"))
    h.foreach { r =>
      val ts = r.getLong(2)
      assert(ts >= before && ts <= System.currentTimeMillis(), s"bad commit ts $ts")
    }
    // v2 carried v1's file(s) plus its own; the walk respects maxVersions
    assert(h(1).getInt(3) > h(2).getInt(3) || h(2).getInt(3) >= 1)
    // operation metrics: the file-set diff + per-file row stats.
    // v1 added 2 rows from nothing; v2 added 1; the keyed delete
    // rewrote the touched file (one removed, its replacement added)
    // and net rows_added - rows_removed == -1
    val byV = h.map(r => r.getInt(0) -> r).toMap
    assert(byV(1).getAs[Int]("files_added") >= 1 &&
      byV(1).getAs[Int]("files_removed") == 0)
    assert(byV(1).getAs[Long]("rows_added") == 2L)
    assert(byV(2).getAs[Long]("rows_added") == 1L &&
      byV(2).getAs[Long]("rows_removed") == 0L)
    assert(byV(3).getAs[Int]("files_removed") >= 1)
    assert(byV(3).getAs[Long]("rows_added") -
      byV(3).getAs[Long]("rows_removed") == -1L)
    assert(t.history(maxVersions = 2).collect().map(_.getInt(0)).toSeq == Seq(3, 2))
    // vacuumed history truncates the walk instead of failing
    t.vacuum(retainVersions = 1)
    val afterVac = t.history().collect()
    assert(afterVac.map(_.getInt(0)).toSeq == Seq(3))
    // the oldest retained version's diff is unknowable below the
    // horizon → null metrics, never a fabricated number
    assert(afterVac.head.isNullAt(afterVac.head.fieldIndex("files_added")))
  }

  test("delete on a non-leading key preserves committed column order") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("name", "id"))
    // the USING anti-join hoists the key column; the rewrite must not
    // let that reorder (or re-type) the table — a follow-up append of
    // the original shape has to keep working
    t.delete(Seq(2L).toDF("id"), "id")
    assert(t.read().columns.toSeq == Seq("name", "id"))
    t.append(Seq(("d", 4L)).toDF("name", "id"))
    assert(t.read().count() == 3)
  }

  test("merge null-key raise fires even when range pruning skips the null file") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // file A: low keys plus one NULL; file B: high keys. A merge whose
    // update range touches only B would, under pure range pruning,
    // never scan A's null row and the upsert guard would go silent —
    // the per-file hasNulls flag forces A touched, so the raise is
    // deterministic regardless of which files the range hits
    t.append(Seq((Option(1L), "a"), (Option.empty[Long], "n"), (Option(5L), "e"))
      .toDF("id", "name").coalesce(1))
    t.append(Seq((Option(100L), "x"), (Option(105L), "y")).toDF("id", "name").coalesce(1))
    val e = intercept[Exception] {
      t.merge(Seq((Option(101L), "upd")).toDF("id", "name"), "id")
    }
    def causes(th: Throwable): Seq[String] =
      Option(th).toSeq.flatMap(x => x.getMessage +: causes(x.getCause))
    assert(causes(e).exists(m => m != null && m.contains("null id")), e.toString)
  }

  test("delete with a mismatched key type disables pruning, not the delete") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq.tabulate(5)(i => ((i + 5).toLong, s"r$i")).toDF("id", "name").coalesce(1))
    t.append(Seq.tabulate(5)(i => ((i + 100).toLong, s"h$i")).toDF("id", "name").coalesce(1))
    // string keys against the long column: "09" sorts BELOW "5" in
    // byte order, so range pruning in the string domain would skip
    // the file holding key 9 — while the anti-join's implicit cast
    // ("09" → 9) matches the row. The type mismatch must disable
    // pruning so the row actually goes
    t.delete(Seq("09").toDF("id"), "id")
    val ids = t.read().collect().map(_.getLong(0)).toSet
    assert(!ids.contains(9L), s"row 9 survived a cast-matching delete: $ids")
    assert(ids.size == 9)
  }

  test("delete retains NULL-keyed rows and ignores NULL delete keys") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((Some(1L), "a"), (None, "nullkey"), (Some(2L), "b"))
      .toDF("id", "name"))
    t.delete(Seq[Option[Long]](Some(1L), None).toDF("id"), "id")
    val got = t.read().collect().map(_.getString(1)).toSet
    assert(got == Set("nullkey", "b"))
  }

  test("appendEvolve adds nullable columns; old files read null; history keeps its schema") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // evolved frame: adds `score`, omits nothing
    t.appendEvolve(Seq((3L, "c", 0.5)).toDF("id", "name", "score"))
    val cur = t.read()
    assert(cur.columns.toSeq == Seq("id", "name", "score"))
    val byId = cur.collect().map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(byId(1L) && byId(2L) && !byId(3L), s"old rows must read null score: $byId")
    // time travel: version 1 still has the two-column schema
    assert(t.read(1).columns.toSeq == Seq("id", "name"))
    // an evolved frame may also OMIT a committed column (null-filled)
    t.appendEvolve(Seq((4L, 0.9)).toDF("id", "score"))
    val r4 = t.read().where(col("id") === 4L).head()
    assert(r4.isNullAt(1) && r4.getDouble(2) == 0.9)
    // type changes stay rejected — evolution is additive only
    val e = intercept[IllegalArgumentException] {
      t.appendEvolve(Seq((5L, 1, 0.1)).toDF("id", "name", "score"))
    }
    assert(e.getMessage.contains("cannot change column name"), e.getMessage)
    // plain append with the stale schema still fails the strict match
    intercept[IllegalArgumentException] {
      t.append(Seq((6L, "f")).toDF("id", "name"))
    }
    // data skipping still works across the evolution: files that
    // predate `score` carry no stats for it and are opened (sound),
    // while range pruning on `id` keeps working
    assert(t.readWhere(col("id") === 3L).collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("appendEvolve widens int→long and float→double; vintages and skipping hold") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1, 1.5f), (2, 2.5f)).toDF("k", "x").coalesce(1)) // v1: int, float
    t.appendEvolve(Seq((3L, 3.5d), (4L, 4.5d)).toDF("k", "x").coalesce(1)) // widens
    val cur = t.read()
    assert(cur.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(cur.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    // old files read through the widened schema without rewrite
    assert(cur.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq ==
      Seq((1L, 1.5d), (2L, 2.5d), (3L, 3.5d), (4L, 4.5d)))
    // time travel keeps the narrow vintage
    assert(t.read(1).schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    assert(t.read(1).schema("x").dataType == org.apache.spark.sql.types.FloatType)
    // stats recorded under the old type still prune under the new one
    val hit = t.readWhere(col("k") === 1L)
    assert(hit.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(t.readWhere(col("k") > 100L).count() == 0)
    // an incoming NARROWER frame up-casts at write, schema stays wide
    t.appendEvolve(Seq((5, 5.5f)).toDF("k", "x").coalesce(1))
    assert(t.read().schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(t.read().where(col("k") === 5L).head().getDouble(1) == 5.5d)
    // lossy changes still refuse
    val e = intercept[IllegalArgumentException] {
      t.appendEvolve(Seq(("not-a-number", 1.0d)).toDF("k", "x"))
    }
    assert(e.getMessage.contains("cannot change column k"), e.getMessage)
    // merge keyed on the widened column spans vintages correctly
    t.merge(Seq((1L, 100.0d), (9L, 9.5d)).toDF("k", "x"), "k")
    val after = t.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(after(1L) == 100.0d && after(9L) == 9.5d && after(2L) == 2.5d)
    // a bloom-indexed column NOW widens (probes hash per-file in the
    // sidecar's recorded build type — WidenBloomSpec owns the pruning
    // contract); NDV-indexed integral columns widen too (the sketch
    // agg hashes every integral input as long — WidenBloomSpec owns
    // the cross-era exactness contract)
    val t2 = VersionedTable(spark, tmp())
    t2.enableBloom(Seq("k"), expectedItemsPerFile = 100)
    t2.append(Seq((1, "a")).toDF("k", "v").coalesce(1))
    t2.appendEvolve(Seq((2L, "b")).toDF("k", "v"))
    assert(t2.read().schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(t2.readWhere(col("k") === 1L).count() == 1)
  }

  test("readWhere skips range-disjoint files; result matches a plain filtered read") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // six appends with disjoint id ranges → six files with tight stats
    (0 until 6).foreach(i => t.append(
      Seq.tabulate(20)(j => ((i * 100 + j).toLong, s"r$i-$j")).toDF("id", "name").coalesce(1)))
    val total = t.fileList(t.currentVersion).size
    assert(total == 6)
    val skipped = t.readWhere(col("id").between(100L, 219L))
    val plain = t.read().where(col("id").between(100L, 219L))
    assert(skipped.collect().map(_.getLong(0)).toSet ==
      plain.collect().map(_.getLong(0)).toSet)
    // only the two overlapping files were opened
    assert(skipped.inputFiles.length == 2,
      s"expected 2 files, opened ${skipped.inputFiles.length} of $total")
    // a fully-disjoint predicate opens nothing and returns the empty
    // snapshot with the committed schema
    val none = t.readWhere(col("id") > 10000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "name"))
    // an unrecognized conjunct shape prunes nothing but still filters
    val odd = t.readWhere(col("id") % 2 === 1 && col("id") < 100L)
    assert(odd.collect().map(_.getLong(0)).forall(id => id % 2 == 1 && id < 100))
    assert(odd.inputFiles.length == 1, "the recognized conjunct should still prune")
  }

  test("Catalog vtable read with a where option skips files like readWhere") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    (0 until 4).foreach(i => t.append(
      Seq.tabulate(10)(j => ((i * 100 + j).toLong, s"r$i-$j")).toDF("id", "name").coalesce(1)))
    val cat = new Catalog(spark)
    // SQL-parsed predicate: typed catalyst nodes, same constraint path
    val df = cat.read("vtable", dir, Map("where" -> "id BETWEEN 100 AND 209"))
    assert(df.collect().map(_.getLong(0)).forall(id => id >= 100 && id <= 209))
    assert(df.count() == 20)
    assert(df.inputFiles.length == 2, s"expected 2 files, got ${df.inputFiles.length}")
  }

  test("readWhere IS NULL opens only files the hasNulls flag can't clear") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((Option(1L), "a"), (Option(2L), "b")).toDF("id", "name").coalesce(1))
    t.append(Seq((Option(10L), "c"), (Option.empty[Long], "n")).toDF("id", "name").coalesce(1))
    val nulls = t.readWhere(col("id").isNull)
    assert(nulls.collect().map(_.getString(1)).toSeq == Seq("n"))
    assert(nulls.inputFiles.length == 1, "null-free file should be skipped")
  }

  test("compact bin-packs small files, keeps data and history intact") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // 6 appends -> 6 small files (streaming-sink shape)
    (1 to 6).foreach(i => t.append(
      Seq.tabulate(10)(j => ((i * 100 + j).toLong, s"r$i-$j")).toDF("id", "name").coalesce(1)))
    val before = t.fileList(t.currentVersion)
    assert(before.size == 6)
    val v = t.compact(targetBytes = 10L << 20, clusterBy = Seq("id"))
    val after = t.fileList(v)
    assert(after.size < before.size, s"no packing: ${after.size}")
    // byte-for-byte same data, and the pre-compact version still reads
    val got = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val old = t.read(6).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == old && got.size == 60)
    // nothing left to compact -> returns the current version, no commit
    assert(t.compact(targetBytes = 10L << 20) == v && t.currentVersion == v)
    // compacted file stats still prune: a merge on hi-range keys must
    // carry any range-disjoint compacted file (only when >1 output file
    // exists does pruning show; with one packed file just check merge works)
    t.merge(Seq((105L, "upd")).toDF("id", "name"), "id")
    assert(t.read().where($"id" === 105L).head().getString(1) == "upd")
  }

  test("merge with an empty update set is a visible no-op commit") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val v2 = t.merge(Seq.empty[(Long, String)].toDF("id", "name"), "id")
    assert(v2 == 2 && t.fileList(2) == t.fileList(1))
    assert(t.read().count() == 2)
  }

  test("checkpoint manifest: current state resolves without the early log") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    (1 to 12).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "name").coalesce(1)))
    val log = java.nio.file.Paths.get(dir, "_graft_log")
    assert(Files.exists(log.resolve("checkpoint-00000010.json")), "no checkpoint at v10")
    assert(Files.exists(log.resolve("_last_checkpoint")), "no checkpoint pointer")
    // a long-lived table's early log may be vacuumed away: with the
    // checkpoint pointer, resolving current state never lists (or
    // needs) those manifests — delete them outright to prove it
    (1 to 9).foreach(v => Files.delete(log.resolve(f"v$v%08d.json")))
    val reopened = VersionedTable(spark, dir)
    assert(reopened.currentVersion == 12)
    assert(reopened.read().count() == 12)
  }

  test("appendEpoch commits once per epoch and skips replays") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    assert(t.appendEpoch(Seq((1L, "a")).toDF("id", "name"), 0L).contains(1))
    assert(t.lastCommittedEpoch.contains(0L))
    // a crash-replay of the same epoch must not double-append
    assert(t.appendEpoch(Seq((1L, "a")).toDF("id", "name"), 0L).isEmpty)
    assert(t.currentVersion == 1 && t.read().count() == 1)
    assert(t.appendEpoch(Seq((2L, "b")).toDF("id", "name"), 1L).contains(2))
    // plain commits interleave; the epoch walk skips past them
    t.append(Seq((3L, "c")).toDF("id", "name"))
    assert(t.lastCommittedEpoch.contains(1L))
    assert(t.appendEpoch(Seq((9L, "dup")).toDF("id", "name"), 1L).isEmpty)
    assert(t.read().count() == 3)
  }

  test("linkless-FS fallback: mkdir claim admits exactly one writer") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.assumeLinkless = true
    t.append(Seq((1L, "a")).toDF("id", "name"))
    t.append(Seq((2L, "b")).toDF("id", "name"))
    assert(t.read().count() == 2)
    // a second claim of an already-committed version loses cleanly
    intercept[java.util.ConcurrentModificationException] {
      t.commit(2, "append", t.fileList(2))
    }
    // a concurrent (or crashed) writer's claim dir blocks the version
    // with a recovery hint rather than racing the rename
    Files.createDirectory(java.nio.file.Paths.get(dir, "_graft_log", "v00000003.claim"))
    val e = intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((3L, "c")).toDF("id", "name"))
    }
    assert(e.getMessage.contains("remove"), e.getMessage)
  }

  test("epoch high-water mark survives vacuum + maintenance commits") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    assert(t.appendEpoch(Seq((1L, "a")).toDF("id", "name"), 0L).contains(1))
    assert(t.appendEpoch(Seq((2L, "b")).toDF("id", "name"), 1L).contains(2))
    // maintenance: a non-epoch commit, then vacuum away the epoch-carrying manifests
    t.compact(targetBytes = 10L << 20)
    t.vacuum(retainVersions = 1)
    // the durable pointer still knows epoch 1 — a replayed micro-batch
    // must be skipped, not re-appended (the exactly-once hole)
    assert(t.lastCommittedEpoch.contains(1L))
    assert(t.appendEpoch(Seq((2L, "b")).toDF("id", "name"), 1L).isEmpty)
    assert(t.read().count() == 2)
  }

  test("NaN keys never mislead pruning; wide strings don't bloat stats") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // one file holding a NaN alongside finite keys: stats for the key
    // column are skipped, so the file counts as touched
    t.append(Seq((1.0, "one"), (Double.NaN, "nan"), (2.0, "two"))
      .toDF("key", "name").coalesce(1))
    t.merge(Seq((1.0, "updated")).toDF("key", "name"), "key")
    val rows = t.read().collect().map(r => (r.getDouble(0), r.getString(1)))
    assert(rows.count(r => r._1 == 1.0) == 1, s"duplicate key 1.0: ${rows.toSeq}")
    assert(rows.exists(r => r._1 == 1.0 && r._2 == "updated"))
    assert(rows.exists(r => r._1.isNaN && r._2 == "nan"))
    // wide text columns: min stored as a short prefix, max unbounded —
    // the manifest never embeds full document bodies
    val dir2 = tmp()
    val t2 = VersionedTable(spark, dir2)
    val long = "z" * 5000
    t2.append(Seq((1L, long), (2L, "a" * 5000)).toDF("id", "text").coalesce(1))
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir2, "_graft_log", "v00000001.json")))
    assert(manifest.length < 2000, s"manifest bloated: ${manifest.length} bytes")
    assert(!manifest.contains(long.take(100)), "full wide value embedded in manifest")
    // and the truncated stats still answer a merge correctly
    t2.merge(Seq((2L, "short")).toDF("id", "text"), "id")
    assert(t2.read().where($"id" === 2L).head().getString(1) == "short")
  }

  test("vacuumOrphans reclaims crashed-writer debris, never live files") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1))
    t.append(Seq((3L, "c")).toDF("id", "name").coalesce(1))
    val live = t.fileList(t.currentVersion)
    // simulate a writer killed between writeFiles and its commit
    // claim: a data file in a files-* dir no manifest references
    val orphanDir = java.nio.file.Paths.get(dir, "files-deadbeef")
    Files.createDirectories(orphanDir)
    val src = java.nio.file.Paths.get(dir, live.head)
    val orphan = orphanDir.resolve("part-00000-dead.parquet")
    Files.copy(src, orphan)
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000))
    // a YOUNG unreferenced file survives the default window (in-flight
    // writer safety); age 0 makes it sweepable
    assert(t.vacuumOrphans(dryRun = true) == 0, "default window must spare it")
    assert(t.vacuumOrphans(olderThanMs = 0, dryRun = true) == 1)
    assert(Files.exists(orphan), "dry run must not delete")
    assert(t.vacuumOrphans(olderThanMs = 0) == 1)
    assert(!Files.exists(orphan) && !Files.exists(orphanDir),
      "orphan and its empty dir must go")
    // live files untouched, the table still reads, re-run is a no-op
    assert(live.forall(f => Files.exists(java.nio.file.Paths.get(dir, f))))
    assert(t.read().count() == 3)
    assert(t.vacuumOrphans(olderThanMs = 0) == 0)
    // the SQL spelling over a quoted path
    val svc = new graft.service.QueryService(spark)
    val freed = svc.sql(s"VACUUM '$dir' ORPHANS OLDER THAN 0 HOURS DRY RUN")
      .head().getInt(0)
    assert(freed == 0)
    // a NON-CANONICAL table path (trailing slash) must still match
    // every referenced file — a resolver mismatch here would classify
    // the whole live table as debris
    assert(VersionedTable(spark, dir + "/").vacuumOrphans(
      olderThanMs = 0, dryRun = true) == 0,
      "trailing-slash path misclassified live files as orphans")
    // an UNREADABLE manifest aborts the sweep — deleting on incomplete
    // knowledge is how a cleaner destroys a table
    val m1 = java.nio.file.Paths.get(dir, "_graft_log", "v00000001.json")
    val good = Files.readAllBytes(m1)
    Files.write(m1, "{torn".getBytes)
    try intercept[Exception] { t.vacuumOrphans(olderThanMs = 0, dryRun = true) }
    finally Files.write(m1, good)
    assert(t.vacuumOrphans(olderThanMs = 0, dryRun = true) == 0)
  }

  test("z-order compact keeps BOTH columns' file stats tight for pruning") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // a 64x64 grid scattered across appends in row-major slices: before
    // compaction every file spans the full y range
    val grid = for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong)
    grid.grouped(512).foreach(s => t.append(s.toDF("x", "y").coalesce(1)))
    // size the target off the real bytes so the pack yields ~4 files
    val total = t.fileList(t.currentVersion)
      .map(f => Files.size(java.nio.file.Paths.get(dir, f))).sum
    val v = t.compact(targetBytes = total / 4 + 1, clusterBy = Seq("x", "y"))
    val zFiles = t.fileList(v)
    assert(zFiles.size > 1, "need multiple output files to observe pruning")
    // delete keyed on y at the TOP of its range: with z-order
    // clustering some files' y-range is provably disjoint -> carried;
    // lexicographic (x, y) ordering would leave every file spanning
    // all y and rewrite everything
    val v2 = t.delete(Seq(60L).toDF("y"), "y")
    val carried = zFiles.count(t.fileList(v2).contains)
    assert(carried > 0, s"z-order stats pruned nothing: ${zFiles.size} files all rewritten")
    assert(t.read().count() == 64L * 64L - 64L)
    assert(t.read().where(col("y") === 60L).count() == 0)
  }

  test("3-dimension z-order: every dimension's stats prune after one compact") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // a 16^3 cube scattered across appends in x-major slices: before
    // compaction every file spans the full y and z ranges
    val cube = for (x <- 0 until 16; y <- 0 until 16; z <- 0 until 16)
      yield (x.toLong, y.toLong, z.toLong)
    cube.grouped(512).foreach(s => t.append(s.toDF("x", "y", "z").coalesce(1)))
    val total = t.fileList(t.currentVersion)
      .map(f => Files.size(java.nio.file.Paths.get(dir, f))).sum
    val v = t.compact(targetBytes = total / 8 + 1, clusterBy = Seq("x", "y", "z"))
    val zFiles = t.fileList(v)
    assert(zFiles.size > 1, "need multiple output files to observe pruning")
    // every dimension — including the THIRD, which a 2-dim key would
    // scatter — must leave some files provably disjoint from a
    // top-of-range point read
    Seq("x", "y", "z").foreach { c =>
      val rd = t.readWhere(col(c) === 15L)
      assert(rd.count() == 256)
      assert(rd.inputFiles.length < zFiles.size,
        s"dim $c pruned nothing: opened ${rd.inputFiles.length} of ${zFiles.size}")
    }
    // >4 dims refuses loudly instead of degrading silently
    intercept[IllegalArgumentException] {
      t.compact(clusterBy = Seq("x", "y", "z", "x", "y"))
    }
  }

  test("z-order compact clusters a STRING column; equality reads skip files") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    // (lang, id) grid scattered so every pre-compact file spans all langs
    val langs = Seq("de", "en", "fr", "ja")
    val rows = for (i <- 0 until 2048) yield (langs(i % 4), i.toLong)
    rows.grouped(256).foreach(s => t.append(s.toDF("lang", "id").coalesce(1)))
    val total = t.fileList(t.currentVersion)
      .map(f => Files.size(java.nio.file.Paths.get(dir, f))).sum
    val v = t.compact(targetBytes = total / 4 + 1, clusterBy = Seq("lang", "id"))
    val zFiles = t.fileList(v)
    assert(zFiles.size > 1, "need multiple output files to observe pruning")
    // string cluster key: files now carry tight lang ranges, so an
    // equality read over the string column opens a strict subset
    val de = t.readWhere(col("lang") === "de")
    assert(de.count() == 512)
    assert(de.inputFiles.length < zFiles.size,
      s"string z-order pruned nothing: opened ${de.inputFiles.length} of ${zFiles.size}")
  }

  test("pruned merge/delete ≡ unpruned oracle on random corpora (astral strings, truncation)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // astral chars (🚀) order differently in UTF-8 bytes vs UTF-16
    // code units, and pieces concatenate past StatStringMax=64 to
    // exercise the truncated-min/unbounded-max path
    val pieces = Array("a", "Z", "é", "中", "🚀", "�", "zzzzzzzzzzzz")
    def randKey() = Seq.fill(1 + rnd.nextInt(12))(pieces(rnd.nextInt(pieces.length))).mkString
    (1 to 3).foreach { trial =>
      val dir = tmp()
      val t = VersionedTable(spark, dir)
      (1 to 3).foreach { _ =>
        val batch = Seq.fill(25)((randKey(), rnd.nextInt(1000).toLong))
        t.append(batch.toDF("k", "v").coalesce(1))
      }
      val existingKeys = t.read().select("k").collect().map(_.getString(0)).distinct
      val updates = (rnd.shuffle(existingKeys.toSeq).take(10).map(k => (k, -1L)) ++
        Seq.fill(5)((randKey(), -2L))).distinctBy(_._1)
      val updatesDf = updates.toDF("k", "v")
      // oracle: the unpruned upsert over the full snapshot, materialized
      // BEFORE the pruned merge commits
      val expected = graft.operators.Merge.upsert(t.read(), updatesDf, "k")
        .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(identity).view.mapValues(_.length).toMap
      t.merge(updatesDf, "k")
      val got = t.read().collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got == expected, s"trial $trial: pruned merge diverged from oracle")
      // delete oracle: anti-join on a mixed known/unknown key set
      val delKeys = rnd.shuffle(existingKeys.toSeq).take(8) :+ randKey()
      val expectedDel = t.read().join(delKeys.toDF("k"), Seq("k"), "left_anti")
        .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(identity).view.mapValues(_.length).toMap
      t.delete(delKeys.toDF("k"), "k")
      val gotDel = t.read().collect().map(r => (r.getString(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(gotDel == expectedDel, s"trial $trial: pruned delete diverged from oracle")
    }
  }

  test("append/merge reject schema drift; overwrite is the change path") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // renamed column, extra column, retyped column: all rejected
    intercept[IllegalArgumentException] {
      t.append(Seq((2L, "b")).toDF("id", "label"))
    }
    intercept[IllegalArgumentException] {
      t.append(Seq((2L, "b", 1.0)).toDF("id", "name", "score"))
    }
    intercept[IllegalArgumentException] {
      t.merge(Seq((2, "b")).toDF("id", "name"), "id") // id int, committed long
    }
    assert(t.currentVersion == 1, "a rejected write must not commit")
    // overwrite replaces the schema wholesale, and the new shape sticks
    t.overwrite(Seq((9L, "z", 0.5)).toDF("id", "name", "score"))
    t.append(Seq((10L, "y", 0.7)).toDF("id", "name", "score"))
    assert(t.read().columns.toSeq == Seq("id", "name", "score"))
    assert(t.read().count() == 2)
  }

  test("readAppendsSince serves exactly the new rows, file-diff only") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    val v1 = t.currentVersion
    t.append(Seq((2L, "b")).toDF("id", "name"))
    t.appendEpoch(Seq((3L, "c")).toDF("id", "name"), 0L)
    // only the two new commits' rows, not the base
    val delta = t.readAppendsSince(v1)
    assert(delta.collect().map(_.getString(1)).toSet == Set("b", "c"))
    // caught up: empty frame with the table's schema
    val none = t.readAppendsSince(t.currentVersion)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "name"))
    // a copy-on-write commit in the window fails fast - file-level
    // change tracking can't answer it
    t.merge(Seq((2L, "b2")).toDF("id", "name"), "id")
    intercept[IllegalStateException] { t.readAppendsSince(v1) }
    // but a window starting after the rewrite works again
    val vm = t.currentVersion
    t.append(Seq((4L, "d")).toDF("id", "name"))
    assert(t.readAppendsSince(vm).collect().map(_.getString(1)).toSet == Set("d"))
    // a vacuumed-away manifest inside the window is the documented
    // resync signal, not a raw I/O error
    t.append(Seq((5L, "e")).toDF("id", "name"))
    t.vacuum(retainVersions = 1)
    val e = intercept[IllegalStateException] { t.readAppendsSince(vm) }
    assert(e.getMessage.contains("vacuum horizon"), e.getMessage)
    // an empty table reports "no committed version", not a crash
    val fresh = VersionedTable(spark, tmp())
    val e2 = intercept[IllegalArgumentException] { fresh.readAppendsSince(0) }
    assert(e2.getMessage.contains("no committed version"), e2.getMessage)
  }

  test("concurrent appends both land via optimistic retry") {
    import spark.implicits._
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    val dir = tmp()
    VersionedTable(spark, dir).append(Seq((0L, "seed")).toDF("id", "name"))
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(i => pool.submit[Int] { () =>
        val t = VersionedTable(spark, dir) // independent handles, shared log
        val df = Seq((i.toLong, s"w$i")).toDF("id", "name")
        barrier.await(30, TimeUnit.SECONDS)
        t.append(df)
      })
      val versions = fs.map(_.get(120, TimeUnit.SECONDS))
      // both committed, at distinct versions, nothing lost
      assert(versions.toSet.size == 2, s"collided: $versions")
      val got = VersionedTable(spark, dir).read()
        .collect().map(_.getString(1)).toSet
      assert(got == Set("seed", "w1", "w2"))
    } finally pool.shutdownNow()
  }

  test("a rewrite losing the claim race re-applies against the winner's snapshot") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name")) // v1
    // deterministically steal v2: an append (same semantics as a
    // concurrent writer landing first) committed through the raw path
    t.commit(2, "append", t.fileList(1))
    // merge's first claim targets v2 and loses; the retry must re-run
    // the whole operation at v3 — including seeing rows the winner
    // added (none here; the two-thread test below covers overlap)
    val v = t.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "name"), "id")
    assert(v == 3, s"expected retried merge at v3, got $v")
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("concurrent merges on disjoint keys both land, serialized") {
    import spark.implicits._
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    val dir = tmp()
    VersionedTable(spark, dir)
      .append(Seq((1L, "a"), (2L, "b")).toDF("id", "name")) // v1
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(i => pool.submit[Int] { () =>
        val t = VersionedTable(spark, dir)
        val df = Seq((i.toLong, s"W$i"), (i + 10L, s"N$i")).toDF("id", "name")
        barrier.await(30, TimeUnit.SECONDS)
        t.merge(df, "id")
      })
      val versions = fs.map(_.get(120, TimeUnit.SECONDS))
      assert(versions.toSet == Set(2, 3), s"want serialized v2+v3, got $versions")
      // both updates and both inserts present — the loser re-applied
      // on top of the winner instead of clobbering its files
      val got = VersionedTable(spark, dir).read()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "W1"), (2L, "W2"), (11L, "N1"), (12L, "N2")))
    } finally pool.shutdownNow()
  }

  test("Catalog.write dispatches vtable merge/delete with a key option") {
    import spark.implicits._
    val dir = tmp()
    val cat = new Catalog(spark)
    cat.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "vtable", dir, mode = "append")
    cat.write(Seq((2L, "b2"), (3L, "c")).toDF("id", "name"), "vtable", dir,
      options = Map("key" -> "id"), mode = "merge")
    cat.write(Seq(1L).toDF("id"), "vtable", dir,
      options = Map("key" -> "id"), mode = "delete")
    val got = VersionedTable(spark, dir).read()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "b2"), (3L, "c")))
    // CDC apply through the same dispatch: one batch mixing an upsert
    // and a delete, ordered by a custom sequence column
    cat.write(Seq((2L, "B3", "update_postimage", 1L), (3L, "c", "delete", 1L))
      .toDF("id", "name", VersionedTable.ChangeTypeCol, "seq"),
      "vtable", dir, options = Map("key" -> "id", "orderBy" -> "seq"), mode = "apply")
    val applied = VersionedTable(spark, dir).read()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(applied == Set((2L, "B3")))
    intercept[IllegalArgumentException] {
      cat.write(Seq(1L).toDF("id"), "vtable", dir, mode = "merge") // no key option
    }
  }

  test("uncommitted data files are invisible to readers") {
    import spark.implicits._
    val dir = tmp()
    val t = VersionedTable(spark, dir)
    t.append(Seq((1L, "a")).toDF("id", "name"))
    // simulate a crashed writer: data landed, manifest never did
    Seq((99L, "ghost")).toDF("id", "name").write.parquet(s"$dir/files-crashed")
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  /** Route `t`'s claims through `claim(target, bytes, what, put)`,
    * where `put` is the real store, for the length of `body`.
    */
  private def withStore[A](t: VersionedTable)(
      claim: (java.nio.file.Path, Array[Byte], String, graft.sources.CommitStore) => Unit)
      (body: => A): A = {
    val inner = t.commitStore
    t.commitStore = new graft.sources.CommitStore {
      def putIfAbsent(target: java.nio.file.Path, bytes: Array[Byte],
          what: String): Unit = claim(target, bytes, what, inner)
    }
    try body finally t.commitStore = inner
  }

  /** Run `body` while a racing writer steals `t`'s next version: at the
    * body's first claim of head+1, a raw commit of the head's own files
    * and schema (zero changed rows) claims it first.
    */
  private def stealingNext[A](t: VersionedTable)(body: => A): A = {
    val next = t.currentVersion + 1
    @volatile var fired = false
    val out = withStore(t) { (target, bytes, what, put) =>
      if (!fired && what.startsWith(s"version $next ")) {
        fired = true // the steal re-enters this store; let it through
        t.commit(next, "append", t.fileList(next - 1), t.read(next - 1).schema.json)
      }
      put.putIfAbsent(target, bytes, what)
    }(body)
    assert(fired, "the verb never claimed the stolen version")
    out
  }

  test("restore that loses its claim re-claims on the winner's head") {
    import spark.implicits._
    val t = VersionedTable(spark, tmp())
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    t.append(Seq((3L, "c")).toDF("id", "name"))
    val cur = t.currentVersion
    val v = stealingNext(t)(t.restore(1))
    assert(v == cur + 2 && t.currentVersion == cur + 2)
    assert(t.commitOp(cur + 1).contains("append") && t.commitOp(cur + 2).contains("restore"))
    assert(t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("claim-failure matrix: every write verb re-plans after a lost claim and gives up after MaxCommitRetries") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import scala.jdk.CollectionConverters._
    val base = Set[Seq[Any]](Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c"), Seq(4L, "d"))
    def row5 = Seq((5L, "e")).toDF("id", "name")
    def changes = Seq((1L, "a", "delete", 1L), (2L, "B", "update_postimage", 1L),
      (7L, "g", "insert", 1L)).toDF("id", "name", VersionedTable.ChangeTypeCol, "seq")
    val applied = Set[Seq[Any]](Seq(2L, "B"), Seq(3L, "c"), Seq(4L, "d"), Seq(7L, "g"))
    val merged = base - Seq(2L, "b") + Seq(2L, "B") + Seq(6L, "f")
    def upd = Seq((2L, "B"), (6L, "f")).toDF("id", "name")
    // (verb, setup returning the table the verb writes, the verb, rows after)
    val verbs: Seq[(String, VersionedTable => VersionedTable, VersionedTable => Any, Set[Seq[Any]])] = Seq(
      ("append", identity, _.append(row5), base + Seq(5L, "e")),
      ("appendClustered", identity, _.appendClustered(row5, Seq("id"), files = 1), base + Seq(5L, "e")),
      ("appendEvolve", identity, _.appendEvolve(row5), base + Seq(5L, "e")),
      ("appendEpoch", identity, _.appendEpoch(row5, 7L), base + Seq(5L, "e")),
      ("copyInto", identity, { t =>
        val src = Files.createTempDirectory("graft-copy").toString + "/src"
        row5.coalesce(1).write.parquet(src)
        t.copyInto(src)
      }, base + Seq(5L, "e")),
      ("overwrite", identity, _.overwrite(Seq((9L, "z")).toDF("id", "name")), Set(Seq(9L, "z"))),
      ("restore", identity, _.restore(1), Set(Seq(1L, "a"), Seq(2L, "b"))),
      ("merge", identity, _.merge(upd, "id"), merged),
      ("mergeEpoch", identity, _.mergeEpoch(upd, "id", 7L), merged),
      ("delete", identity, _.delete(Seq(1L).toDF("id"), "id"), base - Seq(1L, "a")),
      ("deleteWhere", identity, _.deleteWhere(col("id") === 2L), base - Seq(2L, "b")),
      ("replaceWhere", identity, _.replaceWhere(col("id") === 3L, Seq((3L, "C")).toDF("id", "name")),
        base - Seq(3L, "c") + Seq(3L, "C")),
      ("updateWhere", identity, _.updateWhere(col("id") === 4L, Map("name" -> lit("D"))),
        base - Seq(4L, "d") + Seq(4L, "D")),
      ("applyChanges", identity, _.applyChanges(changes, "id", "seq"), applied),
      ("applyChangesEpoch", identity, _.applyChangesEpoch(changes, "id", "seq", 7L), applied),
      ("compact", identity, _.compact(), base),
      ("materializeExternal", t => t.cloneTo(tmp()), _.materializeExternal(), base),
      ("addConstraint", identity, _.addConstraint("pos", "id > 0"), base),
      ("addUniqueConstraint", identity, _.addUniqueConstraint("uq", Seq("id")), base),
      ("dropConstraint", { t => t.addConstraint("pos", "id > 0"); t }, _.dropConstraint("pos"), base),
      ("addColumns", identity, _.addColumns(Seq("x" -> org.apache.spark.sql.types.IntegerType)),
        base.map(_ :+ null)),
      ("renameColumn", identity, _.renameColumn("name", "label"), base),
      ("dropColumns", identity, _.dropColumns(Seq("name")), base.map(_.take(1))),
      ("mergeBranch", { t =>
        t.createBranch("b").updateWhere(col("id") === 1L, Map("name" -> lit("A"))); t
      }, _.mergeBranch("b", "id"), base - Seq(1L, "a") + Seq(1L, "A")))
    def subject(setup: VersionedTable => VersionedTable): VersionedTable = {
      val t = VersionedTable(spark, tmp())
      t.enableCdf() // rewrites also write change files the cleanup must cover
      t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
      t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "name"))
      setup(t)
    }
    def rows(t: VersionedTable): Set[Seq[Any]] = t.read().collect().map(_.toSeq).toSet
    def writeDirs(t: VersionedTable): Set[String] = {
      val s = Files.list(java.nio.file.Paths.get(t.dir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("files-") || n.startsWith("cdf-")).toSet
      finally s.close()
    }
    verbs.foreach { case (name, setup, run, expected) =>
      // a racing writer takes the next version: the verb lands one later
      val t = subject(setup)
      val head = t.currentVersion
      stealingNext(t)(run(t))
      assert(t.currentVersion == head + 2, s"$name landed at ${t.currentVersion}, head was $head")
      assert(rows(t) == expected, s"$name after a lost claim")
      // every claim refused: the verb gives up after exactly
      // MaxCommitRetries claims and leaves no data or change files behind
      val u = subject(setup)
      val (uHead, dirs) = (u.currentVersion, writeDirs(u))
      var claims = 0
      withStore(u) { (_, _, what, _) =>
        claims += 1
        throw new java.util.ConcurrentModificationException(s"refused: $what")
      } {
        intercept[java.util.ConcurrentModificationException](run(u))
      }
      assert(claims == VersionedTable.MaxCommitRetries, s"$name claimed $claims times")
      assert(u.currentVersion == uHead, name)
      assert(writeDirs(u) == dirs, s"$name left unreferenced write directories")
    }
  }
}
