package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.service.QueryService
import graft.sources.VersionedTable

/** The SQL-statement DML surface (SqlDml): MERGE INTO / UPDATE /
  * DELETE FROM / DESCRIBE HISTORY text submitted at the service's SQL
  * entry point routes to the versioned-table API when the target is a
  * registered bare vtable view, with read-your-writes on the view,
  * and falls through to Spark untouched otherwise.
  */
class SqlDmlSpec extends SparkSpecBase {

  private def freshTable(prefix: String): (VersionedTable, String) = {
    val dir = Files.createTempDirectory(s"graft-$prefix").toString + "/t"
    (VersionedTable(spark, dir), dir)
  }

  private def seeded(prefix: String, name: String): (QueryService, VersionedTable) = {
    val (vt, _) = freshTable(prefix)
    vt.append(spark.range(1, 11).select(col("id").as("k"),
      (col("id") * 10.0).as("v")))
    vt.scan().createOrReplaceTempView(name)
    (new QueryService(spark), vt)
  }

  test("SQL MERGE INTO hash-matches the API-path merge") {
    // API path
    val (apiVt, _) = freshTable("sqldml-api")
    val base = spark.range(1, 11).select(col("id").as("k"), (col("id") * 10.0).as("v"))
    val upd = spark.range(5, 16).select(col("id").as("k"), (col("id") * 100.0).as("v"))
    apiVt.append(base)
    apiVt.merge(upd, "k")

    // SQL path over registered views
    val (svc, sqlVt) = seeded("sqldml-sql", "sqlm_target")
    upd.createOrReplaceTempView("sqlm_updates")
    val res = svc.sql("MERGE INTO sqlm_target AS t USING sqlm_updates AS s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(res.columns.toSeq == Seq("version"))
    assert(res.head().getInt(0) == 2) // append=1, merge=2

    val api = apiVt.read().orderBy("k").collect().toSeq
    val viaSql = sqlVt.read().orderBy("k").collect().toSeq
    assert(viaSql == api)
    // read-your-writes: the registered view was refreshed to the new head
    assert(spark.table("sqlm_target").count() == 15)
  }

  test("explicit full-coverage identity assignment lists are accepted as SET */INSERT *") {
    val (svc, vt) = seeded("sqldml-ident", "sqlm_ident")
    spark.range(10, 13).select(col("id").as("k"), lit(0.0).as("v"))
      .createOrReplaceTempView("sqlm_ident_src")
    svc.sql("MERGE INTO sqlm_ident t USING sqlm_ident_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)").collect()
    val rows = vt.read().filter(col("k") >= 10).orderBy("k").collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(0.0, 0.0, 0.0))
    assert(vt.read().count() == 12)
  }

  test("SQL UPDATE and DELETE route to updateWhere/deleteWhere") {
    val (svc, vt) = seeded("sqldml-ud", "sqlm_ud")
    svc.sql("UPDATE sqlm_ud SET v = v + 1 WHERE k % 2 = 0").collect()
    svc.sql("DELETE FROM sqlm_ud WHERE k > 8").collect()
    val rows = vt.read().orderBy("k").collect()
    assert(rows.length == 8)
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      (1L to 8L).map(k => (k, k * 10.0 + (if (k % 2 == 0) 1 else 0))))
    // the view reads the final state too (refreshed twice)
    assert(spark.table("sqlm_ud").count() == 8)
  }

  test("MERGE WHEN MATCHED THEN DELETE alone routes to keyed delete") {
    val (svc, vt) = seeded("sqldml-del", "sqlm_del")
    spark.range(3, 7).select(col("id").as("k"), lit(0.0).as("v"))
      .createOrReplaceTempView("sqlm_del_keys")
    svc.sql("MERGE INTO sqlm_del t USING sqlm_del_keys s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE").collect()
    assert(vt.read().select("k").orderBy("k").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 7L, 8L, 9L, 10L))
  }

  test("non-equality MERGE ON fails with a descriptive error, not a fallthrough") {
    val (svc, _) = seeded("sqldml-bad", "sqlm_bad")
    spark.range(1, 3).select(col("id").as("k"), lit(0.0).as("v"))
      .createOrReplaceTempView("sqlm_bad_src")
    val e = intercept[IllegalArgumentException] {
      svc.sql("MERGE INTO sqlm_bad t USING sqlm_bad_src s ON t.k < s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("key equality"))
  }

  test("general MERGE: clause conditions, partial updates, clause order") {
    // target: k=1..10, v=k*10
    val (svc, vt) = seeded("sqldml-gen", "sqlm_gen")
    // source rows touch 4,5,6 (matched) and 11,12 (not matched)
    spark.createDataFrame(Seq(
      (4L, 1.0), (5L, -1.0), (6L, 2.0), (11L, 3.0), (12L, -3.0)))
      .toDF("k", "v").createOrReplaceTempView("sqlm_gen_src")
    svc.sql("MERGE INTO sqlm_gen t USING sqlm_gen_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.v < 0 THEN DELETE " +          // kills 5
      "WHEN MATCHED AND s.v > 1.5 THEN UPDATE SET v = t.v + s.v " + // 6: 60+2
      "WHEN MATCHED THEN UPDATE SET v = s.v " +          // 4: 1.0 (first-match: only if neither above fired)
      "WHEN NOT MATCHED AND s.v > 0 THEN INSERT (k, v) VALUES (s.k, s.v * 100)")
      .collect() // 11 inserts as 300; 12 (v<0) no-ops
    val out = vt.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(!out.contains(5L), "matched-delete clause must remove 5")
    assert(out(4L) == 1.0, s"plain update clause: ${out(4L)}")
    assert(out(6L) == 62.0, s"conditional update clause: ${out(6L)}")
    assert(out(11L) == 300.0, s"conditional insert: ${out.get(11L)}")
    assert(!out.contains(12L), "insert condition must filter 12")
    // untouched rows intact
    assert(out(1L) == 10.0 && out(10L) == 100.0 && out.size == 10)
  }

  test("general MERGE: NOT MATCHED BY SOURCE synchronizes the target") {
    val (svc, vt) = seeded("sqldml-nmbs", "sqlm_nmbs")
    // source covers keys 1..4 only; 5..10 are stale target rows
    spark.range(1, 5).select(col("id").as("k"), (col("id") * 1000.0).as("v"))
      .createOrReplaceTempView("sqlm_nmbs_src")
    svc.sql("MERGE INTO sqlm_nmbs t USING sqlm_nmbs_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND t.k > 8 THEN DELETE").collect()
    val out = vt.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // 1..4 refreshed, 9..10 purged, 5..8 kept (condition spared them)
    assert((1L to 4L).forall(k => out(k) == k * 1000.0), out.toString)
    assert((5L to 8L).forall(k => out(k) == k * 10.0))
    assert(!out.contains(9L) && !out.contains(10L))
  }

  test("general MERGE: single-clause forms (insert-only, update-only, conditional delete)") {
    val (svc, vt) = seeded("sqldml-single", "sqlm_single")
    spark.createDataFrame(Seq((9L, 0.5), (20L, 0.5), (21L, 0.5)))
      .toDF("k", "v").createOrReplaceTempView("sqlm_single_src")
    // insert-only: existing key 9 untouched, 20/21 inserted
    svc.sql("MERGE INTO sqlm_single t USING sqlm_single_src s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    var out = vt.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(9L) == 90.0 && out(20L) == 0.5 && out(21L) == 0.5 && out.size == 12)
    // update-only: only the matched keys move, nothing inserts
    svc.sql("MERGE INTO sqlm_single t USING sqlm_single_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + 1").collect()
    out = vt.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(9L) == 91.0 && out(20L) == 1.5 && out.size == 12)
    // conditional matched delete alone (General, not the DeleteAll fast path)
    svc.sql("MERGE INTO sqlm_single t USING sqlm_single_src s ON t.k = s.k " +
      "WHEN MATCHED AND t.k >= 20 THEN DELETE").collect()
    out = vt.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(9L) == 91.0 && !out.contains(20L) && !out.contains(21L) && out.size == 10)
  }

  test("MERGE WITH SCHEMA EVOLUTION adds the source's new column, then merges") {
    val (svc, vt) = seeded("sqldml-ev", "sqlm_ev") // (k, v), 10 rows
    spark.createDataFrame(Seq((5L, 55.0, "x5"), (20L, 200.0, "x20")))
      .toDF("k", "v", "tag").createOrReplaceTempView("sqlm_ev_src")
    svc.sql("MERGE WITH SCHEMA EVOLUTION INTO sqlm_ev t USING sqlm_ev_src s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").collect()
    val out = vt.read()
    assert(out.schema.fieldNames.toSeq == Seq("k", "v", "tag"))
    val rows = out.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), Option(r.getString(2)))).toMap
    assert(rows.size == 11)
    assert(rows(5L) == ((55.0, Some("x5"))), rows(5L).toString)
    assert(rows(20L) == ((200.0, Some("x20"))))
    // untouched old rows read NULL for the added column
    assert(rows(1L) == ((10.0, None)))
    // without the clause, a new source column is a loud error (not a
    // silent drop) — on the canonical fast path AND the general one
    spark.createDataFrame(Seq((6L, 66.0, "z", 1))).toDF("k", "v", "tag", "extra")
      .createOrReplaceTempView("sqlm_ev_src2")
    intercept[Exception] {
      svc.sql("MERGE INTO sqlm_ev t USING sqlm_ev_src2 s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    val e = intercept[IllegalArgumentException] {
      svc.sql("MERGE INTO sqlm_ev t USING sqlm_ev_src2 s ON t.k = s.k " +
        "WHEN MATCHED AND s.v > 0 THEN UPDATE SET * " + // condition → general path
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("SCHEMA EVOLUTION"), e.getMessage)
  }

  test("general MERGE: cardinality violations raise instead of collapsing rows") {
    val (svc, _) = seeded("sqldml-card", "sqlm_card")
    // duplicate source keys that both act
    spark.createDataFrame(Seq((3L, 1.0), (3L, 2.0)))
      .toDF("k", "v").createOrReplaceTempView("sqlm_card_src")
    val e = intercept[IllegalArgumentException] {
      svc.sql("MERGE INTO sqlm_card t USING sqlm_card_src s ON t.k = s.k " +
        "WHEN MATCHED AND s.v > 1.5 THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.toLowerCase.contains("key"), e.getMessage)
  }

  test("leading SQL comments don't hide statements from the dispatcher") {
    val (svc, vt) = seeded("sqldml-cmt", "sqlm_cmt")
    // line + block comment headers ahead of the verb
    val res = svc.sql(
      "-- retention sweep\n/* ticket 123 */ DELETE FROM sqlm_cmt WHERE k > 8")
    assert(res.columns.toSeq == Seq("version"), "commented DELETE must dispatch")
    assert(vt.read().count() == 8)
    svc.sql("/* audit */ DESCRIBE HISTORY sqlm_cmt").collect()
    svc.sql("-- roll back\nRESTORE sqlm_cmt TO VERSION AS OF 1").collect()
    assert(vt.read().count() == 10)
    // the auth classifier sees through comments too: a commented
    // SELECT is a read, a commented DELETE is a mutation
    assert(!graft.service.SqlDml.isMutation("-- note\nSELECT 1"))
    assert(graft.service.SqlDml.isMutation("/* note */ DELETE FROM t"))
    assert(graft.service.SqlDml.isMutation("-- just a comment, no verb"))
  }

  test("subqueries in DELETE conditions are rejected with guidance") {
    val (svc, _) = seeded("sqldml-subq", "sqlm_subq")
    val e = intercept[IllegalArgumentException] {
      svc.sql("DELETE FROM sqlm_subq WHERE k IN (SELECT k FROM sqlm_subq WHERE v > 50)")
    }
    assert(e.getMessage.contains("subquer"))
  }

  test("DML against a non-vtable view falls through to Spark's own error") {
    val svc = new QueryService(spark)
    spark.range(3).select(col("id").as("k")).createOrReplaceTempView("sqlm_plain")
    // Spark rejects DELETE on a plain view — its native error surface
    // (a SparkThrowable, not this library's IllegalArgumentException),
    // proving the dispatcher didn't claim the statement
    val e = intercept[Exception] {
      svc.sql("DELETE FROM sqlm_plain WHERE k = 1")
    }
    assert(e.isInstanceOf[org.apache.spark.SparkThrowable], e.getClass.getName)
  }

  test("SQL INSERT INTO appends; OVERWRITE replaces; column lists map by name") {
    val (svc, vt) = seeded("sqldml-ins", "sqlm_ins")
    val v1 = svc.sql("INSERT INTO sqlm_ins VALUES (100, 0.5), (101, 1.5)")
    assert(v1.columns.toSeq == Seq("version") && v1.head().getInt(0) == 2)
    assert(vt.read().count() == 12)
    // partial column list: v defaults to NULL
    svc.sql("INSERT INTO sqlm_ins (k) VALUES (102)").collect()
    assert(vt.read().filter(col("k") === 102).head().isNullAt(1))
    // a query source + OVERWRITE
    svc.sql("INSERT OVERWRITE sqlm_ins SELECT id AS k, 9.9 AS v FROM range(3)")
      .collect()
    assert(vt.read().count() == 3)
    assert(vt.read().agg(sum("v")).head().getDouble(0) == 9.9 * 3)
    // positional count mismatch is a descriptive client fault
    val e = intercept[IllegalArgumentException] {
      svc.sql("INSERT INTO sqlm_ins VALUES (1)")
    }
    assert(e.getMessage.contains("columns"), e.getMessage)
  }

  test("plain spark.sql carries the DML surface (injected parser, no service)") {
    val (_, vt) = seeded("sqldml-parser", "sqlm_parser")
    // no QueryService anywhere — the extension-built session's own
    // SQL entry point routes the verbs
    val res = spark.sql("DELETE FROM sqlm_parser WHERE k <= 2")
    assert(res.columns.toSeq == Seq("version"))
    assert(res.head().getInt(0) == 2)
    assert(vt.read().count() == 8)
    spark.range(100, 102).select(col("id").as("k"), lit(0.0).as("v"))
      .createOrReplaceTempView("sqlm_parser_src")
    spark.sql("MERGE INTO sqlm_parser t USING sqlm_parser_src s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(vt.read().count() == 10)
    spark.sql("UPDATE sqlm_parser SET v = v + 1 WHERE k = 100")
    assert(vt.read().filter(col("k") === 100).head().getDouble(1) == 1.0)
    // DESCRIBE HISTORY as plain SQL, with the history schema
    val h = spark.sql("DESCRIBE HISTORY sqlm_parser")
    assert(h.columns.toSeq == Seq("version", "op", "ts", "n_files", "epoch",
      "files_added", "files_removed", "rows_added", "rows_removed", "op_params"))
    assert(h.count() == 4) // append + delete + merge + update
    // EXPLAIN of a DML statement must never mutate (parsing is pure;
    // only command EXECUTION commits) — whatever EXPLAIN returns or
    // throws for this plan, the table must not move
    try spark.sql("EXPLAIN DELETE FROM sqlm_parser WHERE k = 5").collect()
    catch { case _: Exception => () }
    assert(vt.read().count() == 10)
  }

  test("SQL ALTER TABLE evolves the vtable schema: add, rename, drop") {
    val (svc, vt) = seeded("sqldml-alter", "sqlm_alter")
    // ADD COLUMN is metadata-only: version commits, no file writes,
    // every existing row reads NULL, and the view refreshes
    val r1 = svc.sql("ALTER TABLE sqlm_alter ADD COLUMN note STRING")
    assert(r1.columns.toSeq == Seq("version") && r1.head().getInt(0) == 2)
    assert(spark.table("sqlm_alter").columns.toSeq == Seq("k", "v", "note"))
    assert(spark.table("sqlm_alter").filter(col("note").isNotNull).count() == 0)
    // the new column is writable through the same SQL surface
    svc.sql("UPDATE sqlm_alter SET note = 'x' WHERE k = 1").collect()
    assert(spark.table("sqlm_alter").filter(col("note") === "x").count() == 1)
    // RENAME COLUMN: column mapping — data travels under the old
    // physical name, reads speak the new logical one
    svc.sql("ALTER TABLE sqlm_alter RENAME COLUMN note TO remark").collect()
    assert(spark.table("sqlm_alter").columns.toSeq == Seq("k", "v", "remark"))
    assert(spark.table("sqlm_alter").filter(col("remark") === "x").count() == 1)
    // DROP COLUMN; absent names error without IF EXISTS, no-op with
    svc.sql("ALTER TABLE sqlm_alter DROP COLUMN remark").collect()
    assert(spark.table("sqlm_alter").columns.toSeq == Seq("k", "v"))
    intercept[IllegalArgumentException] {
      svc.sql("ALTER TABLE sqlm_alter DROP COLUMN nope").collect()
    }
    svc.sql("ALTER TABLE sqlm_alter DROP COLUMN IF EXISTS nope").collect()
    // time travel keeps the old shape at old versions
    assert(vt.read(3).columns.toSeq == Seq("k", "v", "note"))
    // re-adding the dropped storage's name gets FRESH storage — the
    // 'x' written above must never resurrect
    svc.sql("ALTER TABLE sqlm_alter ADD COLUMN note STRING").collect()
    assert(spark.table("sqlm_alter").filter(col("note").isNotNull).count() == 0)
    // unsupported clauses refuse loudly instead of committing garbage
    intercept[IllegalArgumentException] {
      svc.sql("ALTER TABLE sqlm_alter ADD COLUMN c2 INT NOT NULL").collect()
    }
    // the injected parser carries the same surface into plain spark.sql
    val r2 = spark.sql("ALTER TABLE sqlm_alter ADD COLUMNS (c3 INT, c4 DOUBLE)")
    assert(r2.columns.toSeq == Seq("version"))
    assert(spark.table("sqlm_alter").columns.toSeq ==
      Seq("k", "v", "note", "c3", "c4"))
    // a non-vtable ALTER target keeps Spark's native error surface
    spark.range(3).createOrReplaceTempView("sqlm_alter_plainview")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE sqlm_alter_plainview ADD COLUMN x INT").collect()
    }
    assert(!e.getMessage.contains("vtable"), e.getMessage)
  }

  test("CREATE TABLE SHALLOW CLONE: zero-copy, version pin, isolated divergence") {
    val svc = new QueryService(spark)
    val base = Files.createTempDirectory("graft-sqlclone").toString
    svc.sql(s"CREATE TABLE clone_src USING vtable LOCATION '$base/src' " +
      "AS SELECT id AS k, id * 2 AS v FROM range(5)").collect()
    svc.sql("INSERT INTO clone_src VALUES (9, 18)").collect()
    // clone of the head: all 6 rows, name immediately queryable + DML-able
    val r = svc.sql("CREATE TABLE clone_t SHALLOW CLONE clone_src " +
      s"LOCATION '$base/cl'")
    assert(r.columns.toSeq == Seq("version") && r.head().getInt(0) == 1)
    assert(svc.sql("SELECT count(*) AS n FROM clone_t").head().getLong(0) == 6)
    svc.sql("DELETE FROM clone_t WHERE k >= 3").collect()
    assert(spark.table("clone_t").count() == 3)
    assert(spark.table("clone_src").count() == 6, "clone DML leaked to source")
    // version pin: VERSION AS OF 1 sees the pre-insert snapshot
    svc.sql("CREATE TABLE clone_v1 SHALLOW CLONE clone_src VERSION AS OF 1 " +
      s"LOCATION '$base/v1'").collect()
    assert(spark.table("clone_v1").count() == 5)
    // a quoted TAG pins the same way — clone the blessed snapshot by name
    graft.sources.VersionedTable(spark, s"$base/src").createTag("seed", 1)
    svc.sql("CREATE TABLE clone_tag SHALLOW CLONE clone_src " +
      s"VERSION AS OF 'seed' LOCATION '$base/tg'").collect()
    assert(spark.table("clone_tag").count() == 5)
    val etag = intercept[IllegalArgumentException] {
      svc.sql("CREATE TABLE clone_bad SHALLOW CLONE clone_src " +
        s"VERSION AS OF 'nope' LOCATION '$base/bad'").collect()
    }
    assert(etag.getMessage.contains("seed"), etag.getMessage)
    // IF NOT EXISTS no-ops at the registered location; a bare re-run refuses
    intercept[IllegalArgumentException] {
      svc.sql("CREATE TABLE clone_t SHALLOW CLONE clone_src " +
        s"LOCATION '$base/other'").collect()
    }
    svc.sql("CREATE TABLE IF NOT EXISTS clone_t SHALLOW CLONE clone_src " +
      s"LOCATION '$base/cl'").collect()
    assert(spark.table("clone_t").count() == 3, "IF NOT EXISTS must not write")
    // bare CLONE = DEEP (Delta's default): materialized, no external refs
    svc.sql("CREATE TABLE clone_deep CLONE clone_src " +
      s"LOCATION '$base/deep'").collect()
    assert(spark.table("clone_deep").count() == 6)
    val deepVt = graft.sources.VersionedTable(spark, s"$base/deep")
    assert(deepVt.fileList(deepVt.currentVersion).forall(!_.startsWith("/")))
    svc.sql("DROP TABLE clone_deep").collect()
    // IF NOT EXISTS never adopts a NON-clone table as the requested clone
    svc.sql(s"CREATE TABLE not_a_clone USING vtable LOCATION '$base/plain' " +
      "AS SELECT 1 AS one").collect()
    svc.sql("DROP TABLE not_a_clone").collect()
    intercept[IllegalArgumentException] {
      svc.sql("CREATE TABLE IF NOT EXISTS adopted SHALLOW CLONE clone_src " +
        s"LOCATION '$base/plain'").collect()
    }
    // ... nor a clone OF A DIFFERENT SOURCE: the clone commit records
    // its provenance and the attach path verifies it
    svc.sql(s"CREATE TABLE other_src USING vtable LOCATION '$base/osrc' " +
      "AS SELECT 1 AS k, 2 AS v").collect()
    val wrongSrc = intercept[IllegalArgumentException] {
      svc.sql("CREATE TABLE IF NOT EXISTS stolen SHALLOW CLONE other_src " +
        s"LOCATION '$base/cl'").collect() // $base/cl was cloned from clone_src
    }
    assert(wrongSrc.getMessage.contains("different source"), wrongSrc.getMessage)
    // ... nor a clone pinned at a DIFFERENT version of the right source
    val wrongVer = intercept[IllegalArgumentException] {
      svc.sql("CREATE TABLE IF NOT EXISTS v1_again SHALLOW CLONE clone_src " +
        s"VERSION AS OF 2 LOCATION '$base/v1'").collect() // cloned at version 1
    }
    assert(wrongVer.getMessage.contains("VERSION AS OF"), wrongVer.getMessage)
    // matching provenance attaches fine
    svc.sql("CREATE TABLE IF NOT EXISTS v1_again SHALLOW CLONE clone_src " +
      s"VERSION AS OF 1 LOCATION '$base/v1'").collect()
    assert(spark.table("v1_again").count() == 5)
    svc.sql("DROP TABLE v1_again").collect()
    svc.sql("DROP TABLE other_src").collect()
    svc.sql("DROP TABLE clone_t").collect()
    svc.sql("DROP TABLE clone_v1").collect()
    svc.sql("DROP TABLE clone_src").collect()
  }

  test("CREATE TABLE USING vtable: CTAS, empty schema-bearing create, DROP unregisters") {
    val svc = new QueryService(spark)
    val base = Files.createTempDirectory("graft-sqlddl").toString
    // CTAS: query result lands as v1, name registers over the path
    val r = svc.sql(s"CREATE TABLE ctas_t USING vtable LOCATION '$base/a' " +
      "AS SELECT id AS k, id * 2 AS v FROM range(5)")
    assert(r.columns.toSeq == Seq("version") && r.head().getInt(0) == 1)
    assert(svc.sql("SELECT count(*) AS n FROM ctas_t").head().getLong(0) == 5)
    // the registered name is DML-capable immediately
    svc.sql("DELETE FROM ctas_t WHERE k >= 3").collect()
    assert(spark.table("ctas_t").count() == 3)
    // a second CREATE at the same name refuses; IF NOT EXISTS no-ops
    intercept[IllegalArgumentException] {
      svc.sql(s"CREATE TABLE ctas_t USING vtable LOCATION '$base/b' " +
        "AS SELECT 1 AS one").collect()
    }
    svc.sql(s"CREATE TABLE IF NOT EXISTS ctas_t USING vtable " +
      s"LOCATION '$base/a' AS SELECT 1 AS one").collect()
    assert(spark.table("ctas_t").count() == 3, "IF NOT EXISTS must not write")
    // empty create with a column list: schema-bearing v1, zero rows,
    // immediately insertable and constrainable
    svc.sql(s"CREATE TABLE empty_t (k BIGINT, v DOUBLE) USING vtable " +
      s"LOCATION '$base/e'").collect()
    assert(spark.table("empty_t").count() == 0)
    svc.sql("ALTER TABLE empty_t ADD CONSTRAINT v_pos CHECK (v > 0)").collect()
    svc.sql("INSERT INTO empty_t VALUES (1, 2.5)").collect()
    intercept[IllegalArgumentException] {
      svc.sql("INSERT INTO empty_t VALUES (2, -1.0)").collect()
    }
    assert(spark.table("empty_t").count() == 1)
    // a non-vtable provider falls through to Spark untouched
    intercept[Exception] {
      svc.sql(s"CREATE TABLE other_t USING nosuchformat LOCATION '$base/x' " +
        "AS SELECT 1 AS one").collect()
    }
    // DROP TABLE unregisters the name but leaves the data directory
    val d = svc.sql("DROP TABLE ctas_t")
    assert(d.head().getString(0) == "ctas_t" && d.head().getBoolean(1))
    assert(!spark.catalog.tableExists("ctas_t"))
    assert(graft.sources.VersionedTable(spark, s"$base/a").currentVersion == 2,
      "dropping the registration must not touch the table data")
    intercept[IllegalArgumentException] {
      svc.sql("DROP TABLE empty_t PURGE").collect()
    }
  }

  test("SQL ADD/DROP CONSTRAINT enforces CHECKs on every write path") {
    val (svc, vt) = seeded("sqldml-ck", "sqlm_ck") // k in 1..10, v = k*10
    val r = svc.sql("ALTER TABLE sqlm_ck ADD CONSTRAINT v_pos CHECK (v > 0)")
    // the add is a metadata commit: it claims version 2 itself
    assert(r.columns.toSeq == Seq("version") && r.head().getInt(0) == 2)
    assert(vt.constraintList == Seq("v_pos" -> "v > 0"))
    // SQL INSERT of a violating row refuses; the table doesn't move
    intercept[IllegalArgumentException] {
      svc.sql("INSERT INTO sqlm_ck VALUES (99, -5.0)").collect()
    }
    assert(vt.currentVersion == 2)
    // UPDATE that would break the invariant refuses as a whole
    intercept[IllegalArgumentException] {
      svc.sql("UPDATE sqlm_ck SET v = -1 WHERE k = 3").collect()
    }
    assert(spark.table("sqlm_ck").filter(col("v") < 0).count() == 0)
    // conforming writes proceed
    svc.sql("INSERT INTO sqlm_ck VALUES (99, 5.0)").collect()
    // adding a constraint existing data violates refuses with a count
    val e = intercept[IllegalArgumentException] {
      svc.sql("ALTER TABLE sqlm_ck ADD CONSTRAINT v_small CHECK (v < 50)").collect()
    }
    assert(e.getMessage.contains("existing row"), e.getMessage)
    // DROP CONSTRAINT (and IF EXISTS semantics), then the write lands
    intercept[IllegalArgumentException] {
      svc.sql("ALTER TABLE sqlm_ck DROP CONSTRAINT nope").collect()
    }
    svc.sql("ALTER TABLE sqlm_ck DROP CONSTRAINT IF EXISTS nope").collect()
    svc.sql("ALTER TABLE sqlm_ck DROP CONSTRAINT v_pos").collect()
    svc.sql("INSERT INTO sqlm_ck VALUES (100, -5.0)").collect()
    assert(spark.table("sqlm_ck").filter(col("v") < 0).count() == 1)
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF pin the snapshot") {
    val (svc, vt) = seeded("sqldml-tt2", "sqlm_tt2") // v1: 10 rows
    val tsAfterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    svc.sql("DELETE FROM sqlm_tt2 WHERE k > 5").collect() // v2: 5 rows
    // current view reads the head; VERSION AS OF reaches back
    assert(spark.sql("SELECT count(*) AS n FROM sqlm_tt2").head().getLong(0) == 5)
    assert(spark.sql("SELECT count(*) AS n FROM sqlm_tt2 VERSION AS OF 1")
      .head().getLong(0) == 10)
    assert(spark.sql("SELECT count(*) AS n FROM sqlm_tt2 VERSION AS OF 2")
      .head().getLong(0) == 5)
    // wall-clock form: an instant between v1 and v2 resolves to v1
    val iso = java.time.Instant.ofEpochMilli(tsAfterV1).toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM sqlm_tt2 TIMESTAMP AS OF '$iso'")
      .head().getLong(0) == 10)
    // the pinned scan composes with ordinary SQL above it
    val agg = spark.sql("SELECT sum(v) AS s FROM sqlm_tt2 VERSION AS OF 1 WHERE k <= 3")
    assert(agg.head().getDouble(0) == 10.0 + 20.0 + 30.0)
    assert(vt.read().count() == 5) // nothing mutated by any of this
    // a non-numeric version on a vtable is a descriptive fault
    intercept[Exception] {
      spark.sql("SELECT * FROM sqlm_tt2 VERSION AS OF 'abc'").collect()
    }
    // the probe is position-independent, so a CTE header doesn't hide
    // the time-travel clause (the parsed tree does the real work)
    assert(svc.sql("WITH keys AS (SELECT 2 AS kk) " +
      "SELECT count(*) AS n FROM sqlm_tt2 VERSION AS OF 1 JOIN keys " +
      "ON k >= kk").head().getLong(0) == 9)
    // ...and the words inside a string literal stay a false positive
    // the parse disambiguates (no time travel → plain SQL)
    assert(svc.sql("SELECT 'VERSION AS OF 1' AS s").head().getString(0)
      == "VERSION AS OF 1")
  }

  test("DESCRIBE HISTORY over SQL returns the commit log") {
    val (svc, vt) = seeded("sqldml-hist", "sqlm_hist")
    svc.sql("DELETE FROM sqlm_hist WHERE k = 1").collect()
    val hist = svc.sql("DESCRIBE HISTORY sqlm_hist").collect()
    assert(hist.length == 2) // append + delete
    val ops = hist.map(_.getAs[String]("op")).toSet
    assert(ops.contains("append"), ops.mkString(","))
    // quoted-path form reaches the same table
    val byPath = svc.sql(s"DESCRIBE HISTORY '${vt.dir}'").collect()
    assert(byPath.length == 2)
  }

  test("INSERT INTO ... REPLACE WHERE is the one-commit predicate overwrite") {
    val (svc, vt) = seeded("sqldml-repl", "sqlm_repl") // k 1..10, v = k*10
    val r = svc.sql("INSERT INTO sqlm_repl REPLACE WHERE k <= 5 " +
      "SELECT id AS k, 0.0 AS v FROM range(1, 4)")
    assert(r.columns.toSeq == Seq("version") && r.head().getInt(0) == 2)
    val rows = vt.read().collect().map(rr => rr.getLong(0) -> rr.getDouble(1)).toMap
    // slice k<=5 replaced by the three new rows; k>5 untouched
    assert(rows == Map(1L -> 0.0, 2L -> 0.0, 3L -> 0.0,
      6L -> 60.0, 7L -> 70.0, 8L -> 80.0, 9L -> 90.0, 10L -> 100.0), rows)
    // an incoming row outside the slice refuses the whole statement
    intercept[Exception] {
      svc.sql("INSERT INTO sqlm_repl REPLACE WHERE k <= 2 " +
        "SELECT 99 AS k, 1.0 AS v").collect()
    }
    assert(vt.currentVersion == 2)
    // the injected parser carries the same statement into plain spark.sql
    val p = spark.sql("INSERT INTO sqlm_repl REPLACE WHERE k = 6 " +
      "SELECT 6 AS k, 66.0 AS v")
    assert(p.columns.toSeq == Seq("version") && p.head().getInt(0) == 3)
    assert(vt.read().filter(col("k") === 6).head().getDouble(1) == 66.0)
  }

  test("DESCRIBE DETAIL returns the one-row operational summary") {
    val (svc, vt) = seeded("sqldml-detail", "sqlm_detail")
    vt.addConstraint("k_pos", "k > 0") // a metadata commit: v2
    // service path
    val r = svc.sql("DESCRIBE DETAIL sqlm_detail").head()
    assert(r.getAs[String]("location") == vt.dir)
    assert(r.getAs[Int]("version") == 2)
    assert(r.getAs[Long]("num_rows") == 10L)
    assert(r.getAs[Int]("num_files") >= 1)
    assert(r.getAs[Long]("size_bytes") > 0L)
    assert(!r.getAs[Boolean]("cdf_enabled"))
    assert(r.getAs[String]("constraints") == "k_pos CHECK (k > 0)")
    // plain spark.sql path (injected parser), with the same schema
    val p = spark.sql("DESCRIBE DETAIL sqlm_detail")
    assert(p.columns.toSeq == Seq("location", "version", "op", "ts",
      "num_files", "num_rows", "size_bytes", "cdf_enabled", "constraints"))
    assert(p.head().getAs[Int]("version") == 2)
  }

  test("VACUUM DRY RUN reports the reclaimable count with zero side effects") {
    val (svc, vt) = seeded("sqldml-vdry", "sqlm_vdry")
    svc.sql("DELETE FROM sqlm_vdry WHERE k <= 3").collect() // v2 rewrites
    val dry = svc.sql("VACUUM sqlm_vdry RETAIN 1 VERSIONS DRY RUN").head().getInt(0)
    assert(dry > 0, "the rewritten v1 files are reclaimable")
    // nothing was deleted: time travel to v1 still reads
    assert(vt.read(1).count() == 10)
    // the real vacuum frees exactly what the dry run promised
    val freed = svc.sql("VACUUM sqlm_vdry RETAIN 1 VERSIONS").head().getInt(0)
    assert(freed == dry, s"dry run promised $dry, vacuum freed $freed")
  }

  test("RESTORE TIMESTAMP AS OF and VACUUM RETAIN n HOURS") {
    val (svc, vt) = seeded("sqldml-tsmaint", "sqlm_tsmaint")      // v1
    val v1Ts = vt.history().collect()
      .find(_.getAs[Int]("version") == 1).get.getAs[Long]("ts")
    Thread.sleep(5) // v2 strictly later than v1's stamp
    svc.sql("DELETE FROM sqlm_tsmaint WHERE k > 5").collect()     // v2
    // epoch-millis form: restore to the instant of v1
    val r = svc.sql(s"RESTORE sqlm_tsmaint TO TIMESTAMP AS OF $v1Ts")
    assert(r.head().getInt(0) == 3 && vt.read().count() == 10)
    // quoted-timestamp form parses (far future resolves to the head)
    svc.sql("RESTORE sqlm_tsmaint TO TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .collect()
    assert(vt.read().count() == 10)
    // hours-based retention: everything is seconds old, so a 1-hour
    // window retains all versions — zero files freed
    assert(svc.sql("VACUUM sqlm_tsmaint RETAIN 1 HOURS DRY RUN")
      .head().getInt(0) == 0)
    assert(vt.read(1).count() == 10, "time travel must survive")
    // a 0-hour window retains only the head: the rewritten files free
    val freed = svc.sql("VACUUM sqlm_tsmaint RETAIN 0 HOURS").head().getInt(0)
    assert(freed >= 1)
    assert(vt.read().count() == 10)
  }

  test("SQL maintenance: VACUUM, OPTIMIZE ZORDER BY, RESTORE") {
    val (svc, vt) = seeded("sqldml-maint", "sqlm_maint")          // v1
    svc.sql("DELETE FROM sqlm_maint WHERE k > 5").collect()       // v2
    // RESTORE rolls back as an audited commit
    val r = svc.sql("RESTORE TABLE sqlm_maint TO VERSION AS OF 1")
    assert(r.columns.toSeq == Seq("version") && r.head().getInt(0) == 3)
    assert(vt.read().count() == 10)
    // OPTIMIZE compacts (zorder over the two columns)
    val o = svc.sql("OPTIMIZE sqlm_maint ZORDER BY (k, v)")
    assert(o.columns.toSeq == Seq("version"))
    assert(vt.read().count() == 10)
    // VACUUM drops pre-restore history; the restored head survives
    val f = svc.sql("VACUUM sqlm_maint RETAIN 1 VERSIONS")
    assert(f.columns.toSeq == Seq("deleted_files"))
    assert(f.head().getInt(0) >= 1, "old rewrites should free files")
    assert(vt.read().count() == 10)
    // plain spark.sql speaks the same statements (injected parser)
    spark.sql("OPTIMIZE sqlm_maint").collect()
    assert(spark.sql("VACUUM sqlm_maint").columns.toSeq == Seq("deleted_files"))
    assert(vt.read().count() == 10)
  }

  test("the auth classifier sees through CTE headers and multi-insert") {
    import graft.service.SqlDml
    // a CTE header must not launder DML past the verb classifier
    assert(SqlDml.isMutation("WITH x AS (SELECT 1) INSERT INTO t SELECT * FROM x"))
    assert(SqlDml.isMutation("WITH x AS (SELECT 1 AS k) MERGE INTO t USING x " +
      "ON t.k = x.k WHEN MATCHED THEN DELETE"))
    assert(SqlDml.isMutation("WITH x AS (SELECT 1 AS a) INSERT OVERWRITE " +
      "DIRECTORY '/tmp/p' USING parquet SELECT * FROM x"))
    assert(!SqlDml.isMutation("WITH x AS (SELECT 1 AS a) SELECT * FROM x"))
    // chained CTEs, column alias lists, parens INSIDE string literals
    assert(!SqlDml.isMutation("WITH a AS (SELECT '(' AS p), " +
      "b (q) AS (SELECT concat(p, ')') FROM a) SELECT * FROM b"))
    assert(SqlDml.isMutation("WITH a AS (SELECT '((' AS p) , " +
      "b AS (SELECT * FROM a) DELETE FROM t WHERE q = ')'"))
    // RECURSIVE prologue is still a read when the statement is
    assert(!SqlDml.isMutation("WITH RECURSIVE r AS (SELECT 1) SELECT * FROM r"))
    // FROM-led: Spark's multi-insert is a write; FROM t SELECT is a read
    assert(SqlDml.isMutation(
      "FROM t INSERT OVERWRITE DIRECTORY '/tmp/p' USING parquet SELECT *"))
    assert(!SqlDml.isMutation("FROM t SELECT *"))
    // a WITH prologue that fails to lex closed-worlds to a mutation
    assert(SqlDml.isMutation("WITH oops"))
    // comments interleaved with the prologue
    assert(SqlDml.isMutation(
      "WITH x AS (SELECT 1) -- staging\n INSERT INTO t SELECT * FROM x"))
    // dispatch sees through the header too
    assert(SqlDml.mightDispatch(
      "WITH s AS (SELECT 1 AS k) MERGE INTO t USING s ON t.k = s.k " +
        "WHEN MATCHED THEN DELETE"))
    assert(!SqlDml.mightDispatch("WITH s AS (SELECT 1 AS k) SELECT * FROM s"))
  }

  test("materialized views over SQL: CREATE / REFRESH / DROP on both entry points, O(delta) refresh") {
    val (svc, vt) = seeded("sqlmv", "sqlmv_src")
    val mvDir = Files.createTempDirectory("graft-sqlmv-state").toString + "/mv"
    // CREATE: builds + initial refresh + registers the name
    val created = svc.sql(
      s"""CREATE MATERIALIZED VIEW sqlmv_v LOCATION '$mvDir' AS
         |SELECT k, count(*) AS n, sum(v) AS sv, avg(v) AS av
         |FROM sqlmv_src GROUP BY k""".stripMargin).head()
    assert(created.getString(0) == "sqlmv_v" && created.getInt(1) >= 1, created.toString)
    assert(spark.table("sqlmv_v").count() == 10)
    // source moves; REFRESH folds the append diff and re-registers
    vt.append(spark.range(1, 6).select(col("id").as("k"), lit(1.0).as("v")))
    svc.sql("REFRESH MATERIALIZED VIEW sqlmv_v").collect()
    val row = spark.table("sqlmv_v").filter(col("k") === 2L).head()
    assert(row.getAs[Long]("n") == 2L && row.getAs[Double]("sv") == 21.0,
      row.toString)
    // avg finalizes from (sum, count) state
    assert(math.abs(row.getAs[Double]("av") - 10.5) < 1e-9)
    // holistic aggregates refuse at CREATE, loudly
    val e1 = intercept[IllegalArgumentException](svc.sql(
      s"""CREATE MATERIALIZED VIEW sqlmv_bad LOCATION '${mvDir}2' AS
         |SELECT k, count(DISTINCT v) AS d FROM sqlmv_src GROUP BY k""".stripMargin))
    assert(e1.getMessage.contains("holistic"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](svc.sql(
      s"""CREATE MATERIALIZED VIEW sqlmv_bad LOCATION '${mvDir}2' AS
         |SELECT k, median(v) AS m FROM sqlmv_src GROUP BY k""".stripMargin))
    assert(e2.getMessage.contains("mergeable"), e2.getMessage)
    // non-vtable sources refuse (IVM rides the commit log)
    spark.range(3).toDF("k").createOrReplaceTempView("sqlmv_plain")
    val e3 = intercept[IllegalArgumentException](svc.sql(
      s"""CREATE MATERIALIZED VIEW sqlmv_bad LOCATION '${mvDir}3' AS
         |SELECT k, count(*) AS n FROM sqlmv_plain GROUP BY k""".stripMargin))
    assert(e3.getMessage.contains("vtable"), e3.getMessage)
    // DROP unregisters the name; the state dir (a table) survives
    assert(svc.sql("DROP MATERIALIZED VIEW sqlmv_v").head().getBoolean(0))
    assert(!spark.catalog.tableExists("sqlmv_v"))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(mvDir)))
    // the plain-parser entry point (no QueryService): same verbs
    val (vt2, _) = freshTable("sqlmv-p")
    vt2.append(spark.range(1, 4).select(col("id").as("k"), (col("id") * 2.0).as("v")))
    vt2.scan().createOrReplaceTempView("sqlmv_src2")
    val mvDir2 = Files.createTempDirectory("graft-sqlmv-p").toString + "/mv"
    spark.sql(s"""CREATE MATERIALIZED VIEW sqlmv_p LOCATION '$mvDir2' AS
                 |SELECT k, sum(v) AS sv FROM sqlmv_src2 GROUP BY k""".stripMargin)
      .collect()
    assert(spark.table("sqlmv_p").count() == 3)
    vt2.append(spark.range(1, 2).select(col("id").as("k"), lit(100.0).as("v")))
    assert(spark.sql("REFRESH MATERIALIZED VIEW sqlmv_p").head().getInt(0) >= 2)
    assert(spark.table("sqlmv_p").filter(col("k") === 1L).head()
      .getAs[Double]("sv") == 102.0)
    assert(spark.sql("DROP MATERIALIZED VIEW sqlmv_p").head().getBoolean(0))
  }

  test("the auth classifier lexes like Spark: nested comments, AS-less CTEs, either escape convention") {
    import graft.service.SqlDml
    // Spark 4.1 NESTS bracketed comments: the whole header below is ONE
    // comment, so Spark executes the INSERT — the classifier must too
    // (a non-nesting lexer ends the comment early, sees SELECT, and
    // waves the write through unauthenticated)
    assert(SqlDml.isMutation("/* /* */ SELECT 1 */ INSERT INTO t VALUES (1)"))
    // ...and the mirror image: an INSERT wholly inside a nested comment
    // is trivia, the statement is the SELECT that follows
    assert(!SqlDml.isMutation("/* /* INSERT */ still comment */ SELECT 1"))
    // nested comments inside a CTE body and in the FROM-led scan
    assert(SqlDml.isMutation(
      "WITH x AS (SELECT /* /* */ 1 */ 1) INSERT INTO t SELECT * FROM x"))
    assert(!SqlDml.isMutation("FROM t /* /* INSERT */ x */ SELECT *"))
    // AS is optional in Spark's CTE grammar: body directly after the
    // name, with or without a column alias list
    assert(!SqlDml.isMutation("WITH y (SELECT 2) SELECT * FROM y"))
    assert(SqlDml.isMutation("WITH y (SELECT 2) INSERT INTO t SELECT * FROM y"))
    assert(!SqlDml.isMutation("WITH y (a) (SELECT 2) SELECT a FROM y"))
    assert(SqlDml.isMutation("WITH y (a) (SELECT 2) DELETE FROM t WHERE k = 1"))
    assert(!SqlDml.isMutation(
      "WITH y (SELECT 2), z AS (SELECT 3) SELECT * FROM y JOIN z"))
    assert(SqlDml.mightDispatch("WITH y (SELECT 1 AS k) MERGE INTO t USING y " +
      "ON t.k = y.k WHEN MATCHED THEN DELETE"))
    // Spark is the referee on the escapedStringLiterals flag: it
    // changes how a literal unescapes, never where it ends. Under both
    // values '\') runs on to the final quote, the CTE never closes,
    // and Spark rejects the text (the gate closed-worlds it)...
    val unclosed = "WITH x AS (SELECT '\\') INSERT INTO t VALUES (1) --'"
    assert(SparkReferee.parses(unclosed) == Seq(None, None))
    assert(SqlDml.isMutation(unclosed))
    // ...and here the INSERT sits inside one literal under both
    // values: Spark parses a WITH-led read, and so does the gate
    val hidden = "WITH x AS (SELECT '\\') INSERT INTO t SELECT ''') SELECT * FROM x"
    val plans = SparkReferee.parses(hidden)
    assert(plans.forall(_.exists(p => !SparkReferee.isWritePlan(p))), plans)
    assert(!SqlDml.isMutation(hidden))
    // ...and a plain CTE-led write stays caught
    assert(SqlDml.isMutation("WITH x AS (SELECT 'a') INSERT INTO t VALUES (1)"))
  }

  test("the auth classifier ends raw literals where Spark does") {
    import graft.service.SqlDml
    // '\'' then the raw R'\' then ') SELECT 1 --' are three adjacent
    // literals to Spark, so the prologue closes right before the write;
    // a lexer without raw literals closes it early, reads SELECT, and
    // lets the write through without the token
    val prologue = raw"WITH x AS (SELECT '\''R'\'') SELECT 1 --') "
    Seq(prologue + "INSERT OVERWRITE DIRECTORY '/tmp/p' USING parquet SELECT 1 AS a",
        prologue + raw"INSERT INTO t SELECT '\''").foreach { q =>
      val plans = SparkReferee.parses(q)
      assert(plans.forall(_.exists(SparkReferee.isWritePlan)), s"$q: $plans")
      assert(SqlDml.isMutation(q), q)
    }
    // an unclosed bracketed comment closed-worlds to a mutation
    assert(SqlDml.isMutation("SELECT 1 /* INSERT INTO t VALUES (1)"))
  }

  test("CTE-prefixed DML dispatches and commits like its verb-led form") {
    // verb-led control: inline subquery source
    val (ctl, ctlVt) = seeded("sqldml-cte-ctl", "sqlm_cte_ctl")
    ctl.sql("MERGE INTO sqlm_cte_ctl t USING (SELECT k, v * 2 AS v FROM " +
      "sqlm_cte_ctl WHERE k <= 3) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET *").collect()
    // WITH-led form: same statement, source as a CTE (chained — the
    // second definition references the first)
    val (svc, vt) = seeded("sqldml-cte", "sqlm_cte")
    val res = svc.sql("WITH lows AS (SELECT * FROM sqlm_cte WHERE k <= 3), " +
      "doubled AS (SELECT k, v * 2 AS v FROM lows) " +
      "MERGE INTO sqlm_cte t USING doubled s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET *")
    assert(res.columns.toSeq == Seq("version"), "WITH-led MERGE must dispatch")
    assert(vt.read().orderBy("k").collect().toSeq ==
      ctlVt.read().orderBy("k").collect().toSeq)
    // WITH-led INSERT
    svc.sql("WITH src AS (SELECT CAST(100 AS BIGINT) AS k, 1.5 AS v) " +
      "INSERT INTO sqlm_cte SELECT * FROM src").collect()
    assert(vt.read().count() == 11)
    // a CTE shadowing the TARGET name falls through to Spark's own
    // error (you cannot INSERT into a CTE) and nothing commits
    intercept[Exception] {
      svc.sql("WITH sqlm_cte AS (SELECT 1 AS k) " +
        "INSERT INTO sqlm_cte SELECT 2, 2.0").collect()
    }
    assert(vt.read().count() == 11)
    // the injected parser carries the same surface into plain spark.sql
    spark.sql("WITH gone AS (SELECT k FROM sqlm_cte WHERE k > 99) " +
      "MERGE INTO sqlm_cte t USING gone s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE").collect()
    assert(vt.read().count() == 10)
    // AS-less CTE form (Spark's grammar makes AS optional) dispatches
    // and commits like the AS form
    val asless = svc.sql("WITH gone2 (SELECT k FROM sqlm_cte WHERE k = 1) " +
      "MERGE INTO sqlm_cte t USING gone2 s ON t.k = s.k " +
      "WHEN MATCHED THEN DELETE")
    assert(asless.columns.toSeq == Seq("version"), "AS-less WITH-led MERGE must dispatch")
    assert(vt.read().count() == 9)
  }

  test("general MERGE: NULL merge keys raise a dedicated error, not a spurious duplicate") {
    val (svc, vt) = seeded("sqldml-nullkey", "sqlm_nullkey")
    // two NOT MATCHED inserts whose key is NULL: NULL never
    // equi-matches, so both land in the insert branch — the keyed
    // lowering can't represent them and must say so by name (they are
    // NOT duplicates of each other, so the old per-key count raised a
    // misleading cardinality error here)
    spark.sql("SELECT CAST(NULL AS BIGINT) AS k, 1.0 AS v UNION ALL " +
      "SELECT CAST(NULL AS BIGINT), 2.0")
      .createOrReplaceTempView("sqlm_nullkey_src")
    val e = intercept[IllegalArgumentException] {
      svc.sql("MERGE INTO sqlm_nullkey t USING sqlm_nullkey_src s ON t.k = s.k " +
        "WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(e.getMessage.contains("NULL merge key"), e.getMessage)
    assert(vt.read().count() == 10, "nothing may commit on a NULL-key batch")
  }

  test("non-vtable DML through the injected parser keeps its native plan and schema") {
    spark.sql("DROP TABLE IF EXISTS sqlm_native")
    spark.sql("CREATE TABLE sqlm_native (k BIGINT, v DOUBLE) USING parquet")
    try {
      // a catalog (non-vtable) table: INSERT must run Spark's native
      // command — empty output schema, not this library's (version int)
      val res = spark.sql("INSERT INTO sqlm_native VALUES (1, 1.0)")
      assert(!res.columns.contains("version"),
        s"native INSERT must keep its own output, got ${res.columns.mkString(",")}")
      assert(spark.table("sqlm_native").count() == 1)
    } finally spark.sql("DROP TABLE IF EXISTS sqlm_native")
  }

  test("a time-traveled registration is not re-pointed by DML") {
    val (vt, _) = freshTable("sqldml-tt")
    vt.append(spark.range(1, 4).select(col("id").as("k"), lit(1.0).as("v")))
    vt.append(spark.range(4, 6).select(col("id").as("k"), lit(2.0).as("v")))
    vt.scan(1).createOrReplaceTempView("sqlm_pinned") // old snapshot
    vt.scan().createOrReplaceTempView("sqlm_head")
    val svc = new QueryService(spark)
    svc.sql("DELETE FROM sqlm_head WHERE k = 1").collect()
    // the head view follows the commit; the pinned one keeps v1
    assert(spark.table("sqlm_head").count() == 4)
    assert(spark.table("sqlm_pinned").count() == 3)
  }

  // ---- path-spelling matrix ------------------------------------------

  /** One vtable statement or table function over a target spelling
    * `t`. `observe` reads the result and the table afterwards into a
    * value that does not depend on which (identically seeded) table
    * instance it ran against. Statements Spark parses itself take the
    * backtick spelling only, and an unknown name there reaches Spark's
    * own error; a table function takes the name or path as its string
    * argument.
    */
  private case class Spelled(sql: String => String,
      observe: (org.apache.spark.sql.DataFrame, VersionedTable) => Any,
      sparkParsed: Boolean = false, function: Boolean = false,
      serviceOnly: Boolean = false)

  private val spellSeq = new java.util.concurrent.atomic.AtomicInteger

  /** A fresh CDF table at v2 (two appends) with branch b0 forked at
    * v2 and tag t0 pinning v1, registered under a fresh view name.
    */
  private def spellTable(): (String, VersionedTable) = {
    val (vt, _) = freshTable("spell")
    vt.enableCdf()
    vt.append(spark.range(1, 5).select(col("id").as("k"), (col("id") * 10.0).as("v")))
    vt.append(spark.range(5, 7).select(col("id").as("k"), (col("id") * 10.0).as("v")))
    vt.createBranch("b0")
    vt.createTag("t0", 1)
    val name = s"spell_${spellSeq.incrementAndGet()}"
    vt.scan().createOrReplaceTempView(name)
    (name, vt)
  }

  test("path spelling: a registered name, `/abs` and '/abs' address the same vtable everywhere") {
    val svc = new QueryService(spark)
    spellingMatrix(svc.sql(_))
  }

  test("path spelling through bare spark.sql: the parser routes every vtable statement, COPY INTO included") {
    spellingMatrix(spark.sql, service = false)
  }

  /** Run the path-spelling matrix through one SQL door: the service's
    * `sql` or the session's own `spark.sql` (whose injected parser is
    * the same router). Lifecycle rows (CLONE) are service-only.
    */
  private def spellingMatrix(door: String => org.apache.spark.sql.DataFrame,
      service: Boolean = true): Unit = {
    import org.apache.spark.sql.DataFrame
    def rows(df: DataFrame, cols: String*): Seq[Seq[Any]] =
      (if (cols.isEmpty) df else df.select(cols.map(col): _*))
        .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    def result(df: DataFrame, vt: VersionedTable): Any = rows(df)
    val copySrc = Files.createTempDirectory("graft-spell-copy").toString + "/in"
    spark.range(20, 23).select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .coalesce(1).write.parquet(copySrc)
    spark.range(5, 9).select(col("id").as("k"), lit(-1.0).as("v"))
      .createOrReplaceTempView("spell_src")
    val matrix: Seq[(String, Spelled)] = Seq(
      "DESCRIBE HISTORY" -> Spelled(t => s"DESCRIBE HISTORY $t",
        (df, _) => rows(df, "version", "op")),
      "DESCRIBE DETAIL" -> Spelled(t => s"DESCRIBE DETAIL $t",
        (df, _) => rows(df, "version", "num_files", "num_rows", "cdf_enabled")),
      "DESCRIBE BRANCHES" -> Spelled(t => s"DESCRIBE BRANCHES $t", result),
      "DESCRIBE TAGS" -> Spelled(t => s"DESCRIBE TAGS $t",
        (df, _) => rows(df, "tag", "version")),
      "VACUUM" -> Spelled(t => s"VACUUM $t RETAIN 1 VERSIONS",
        (df, vt) => (rows(df), vt.read().count())),
      "OPTIMIZE" -> Spelled(t => s"OPTIMIZE $t",
        (df, vt) => (rows(df), vt.read().count())),
      "RESTORE" -> Spelled(t => s"RESTORE $t TO VERSION AS OF 1",
        (df, vt) => (rows(df), vt.read().count())),
      "CREATE BRANCH" -> Spelled(t => s"ALTER TABLE $t CREATE BRANCH b1",
        (df, vt) => (rows(df), vt.branchNames.sorted)),
      "DROP BRANCH" -> Spelled(t => s"ALTER TABLE $t DROP BRANCH b0",
        (df, vt) => (rows(df), vt.branchNames.sorted)),
      "MERGE BRANCH" -> Spelled(t => s"ALTER TABLE $t MERGE BRANCH b0 KEY k",
        (df, vt) => (rows(df), vt.read().count())),
      "CREATE TAG" -> Spelled(t => s"ALTER TABLE $t CREATE TAG t1",
        (df, vt) => (rows(df), vt.tagNames.sorted)),
      "DROP TAG" -> Spelled(t => s"ALTER TABLE $t DROP TAG t0",
        (df, vt) => (rows(df), vt.tagNames.sorted)),
      "COPY INTO" -> Spelled(t => s"COPY INTO $t FROM '$copySrc'",
        (df, vt) => (rows(df), vt.read().count())),
      "CLONE source" -> Spelled(t => {
        val loc = Files.createTempDirectory("graft-spell-clone").toString + "/c"
        s"CREATE TABLE spell_clone_${spellSeq.incrementAndGet()} " +
          s"SHALLOW CLONE $t LOCATION '$loc'"
      }, result, serviceOnly = true),
      "DELETE" -> Spelled(t => s"DELETE FROM $t WHERE k = 1",
        (df, vt) => (rows(df), vt.read().count()), sparkParsed = true),
      "UPDATE" -> Spelled(t => s"UPDATE $t SET v = 0.0 WHERE k = 2",
        (df, vt) => (rows(df), rows(vt.read())), sparkParsed = true),
      "INSERT" -> Spelled(t => s"INSERT INTO $t VALUES (9, 90.0)",
        (df, vt) => (rows(df), vt.read().count()), sparkParsed = true),
      "MERGE" -> Spelled(t => s"MERGE INTO $t AS tgt USING spell_src AS s " +
        "ON tgt.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        (df, vt) => (rows(df), rows(vt.read())), sparkParsed = true),
      "ADD COLUMN" -> Spelled(t => s"ALTER TABLE $t ADD COLUMN note STRING",
        (df, vt) => (rows(df), vt.read().columns.toSeq), sparkParsed = true),
      "RENAME COLUMN" -> Spelled(t => s"ALTER TABLE $t RENAME COLUMN v TO w",
        (df, vt) => (rows(df), vt.read().columns.toSeq), sparkParsed = true),
      "DROP COLUMN" -> Spelled(t => s"ALTER TABLE $t DROP COLUMN v",
        (df, vt) => (rows(df), vt.read().columns.toSeq), sparkParsed = true),
      "table_changes" -> Spelled(t => s"SELECT * FROM table_changes('$t', 0)",
        (df, _) => rows(df, "k", VersionedTable.ChangeTypeCol,
          VersionedTable.CommitVersionCol), function = true),
      "table_diff" -> Spelled(t => s"SELECT * FROM table_diff('$t', 1, 2, 'k')",
        (df, _) => rows(df, "k", VersionedTable.ChangeTypeCol), function = true),
      "table_branch" -> Spelled(t => s"SELECT * FROM table_branch('$t', 'b0')",
        result, function = true),
      "table_stats" -> Spelled(t => s"SELECT * FROM table_stats('$t')",
        (df, _) => rows(df, "col_name", "n_rows", "min_val", "max_val"),
        function = true),
      "table_history" -> Spelled(t => s"SELECT * FROM table_history('$t')",
        (df, _) => rows(df, "version", "op"), function = true),
      "table_files" -> Spelled(t => s"SELECT * FROM table_files('$t')",
        (df, _) => rows(df, "rows"), function = true),
      "table_branches" -> Spelled(t => s"SELECT * FROM table_branches('$t')",
        result, function = true),
      "table_tags" -> Spelled(t => s"SELECT * FROM table_tags('$t')",
        (df, _) => rows(df, "tag", "version"), function = true))

    val resolverMsg =
      "'no_such_vt' is not a registered vtable view or an absolute table path"
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    // (label, (view name, table dir) => target spelling)
    val byName = "name" -> ((n: String, _: String) => n)
    val byBacktick = "`/abs`" -> ((_: String, d: String) => s"`$d`")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    matrix.filter(service || !_._2.serviceOnly).foreach { case (what, row) =>
      val spellings =
        if (row.function) Seq(byName, "'/abs'" -> ((_: String, d: String) => d))
        else if (row.sparkParsed) Seq(byName, byBacktick)
        else Seq(byName, byBacktick, "'/abs'" -> ((_: String, d: String) => s"'$d'"))
      val outcomes = spellings.map { case (label, spell) =>
        val (name, vt) = spellTable()
        label -> scala.util.Try(row.observe(door(row.sql(spell(name, vt.dir))), vt))
      }
      outcomes.collect { case (label, scala.util.Failure(e)) =>
        failures += s"$what via $label: $e"
      }
      val ok = outcomes.collect { case (label, scala.util.Success(v)) => label -> v }
      ok.drop(1).filter(_._2 != ok.head._2).foreach { case (label, v) =>
        failures += s"$what via $label observed $v, via ${ok.head._1} ${ok.head._2}"
      }
      scala.util.Try(door(row.sql("no_such_vt")).collect()) match {
        case scala.util.Success(_) => failures += s"$what on an unknown name succeeded"
        case scala.util.Failure(e) =>
          val resolved = causes(e).exists(c =>
            Option(c.getMessage).exists(_.contains(resolverMsg)))
          // a Spark-parsed statement falls through to Spark's own error
          if (resolved == row.sparkParsed)
            failures += s"$what on an unknown name raised $e"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }
}
