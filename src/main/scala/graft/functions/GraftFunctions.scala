package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/** SQL-function surface of the graft engine.
  *
  * The reference service exposes its engine purely through SQL
  * (wangpy1995/data-service: POST /sql → Spark SQL); we follow suit —
  * every custom expression is registered as a SQL function so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works, plus typed
  * Column wrappers for the DataFrame API.
  */
object GraftFunctions {

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  private def expect(name: String, n: Int)(args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")
    args
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("dot_f"), info("dot_f", classOf[DotF]),
      (args: Seq[Expression]) => { val a = expect("dot_f", 2)(args); DotF(a(0), a(1)) }),
    (FunctionIdentifier("norm_f"), info("norm_f", classOf[NormF]),
      (args: Seq[Expression]) => { val a = expect("norm_f", 1)(args); NormF(a(0)) }),
    (FunctionIdentifier("cosine_sim"), info("cosine_sim", classOf[CosineSim]),
      (args: Seq[Expression]) => { val a = expect("cosine_sim", 2)(args); CosineSim(a(0), a(1)) }),
    (FunctionIdentifier("minhash_sig"), info("minhash_sig", classOf[MinHashSig]),
      (args: Seq[Expression]) => { val a = expect("minhash_sig", 3)(args); MinHashSig(a(0), a(1), a(2)) }),
    (FunctionIdentifier("simhash64"), info("simhash64", classOf[SimHash64]),
      (args: Seq[Expression]) => { val a = expect("simhash64", 2)(args); SimHash64(a(0), a(1)) }),
    (FunctionIdentifier("rolling_fp"), info("rolling_fp", classOf[RollingFp]),
      (args: Seq[Expression]) => { val a = expect("rolling_fp", 1)(args); RollingFp(a(0)) }),
    (FunctionIdentifier("token_count"), info("token_count", classOf[TokenCount]),
      (args: Seq[Expression]) => { val a = expect("token_count", 1)(args); TokenCount(a(0)) }),
    (FunctionIdentifier("canonical_url"), info("canonical_url", classOf[CanonicalUrl]),
      (args: Seq[Expression]) => { val a = expect("canonical_url", 1)(args); CanonicalUrl(a(0)) }),
    (FunctionIdentifier("hamming64"), info("hamming64", classOf[Hamming64]),
      (args: Seq[Expression]) => { val a = expect("hamming64", 2)(args); Hamming64(a(0), a(1)) }),
    (FunctionIdentifier("word_shingles"), info("word_shingles", classOf[WordShingles]),
      (args: Seq[Expression]) => { val a = expect("word_shingles", 2)(args); WordShingles(a(0), a(1)) }),
    (FunctionIdentifier("zvalue"), info("zvalue", classOf[ZValue]),
      (args: Seq[Expression]) => { val a = expect("zvalue", 2)(args); ZValue(a(0), a(1)) }),
    (FunctionIdentifier("zvalue_n"), info("zvalue_n", classOf[ZValueN]),
      (args: Seq[Expression]) => {
        require(args.length >= 2, s"zvalue_n expects >= 2 arguments, got ${args.length}")
        ZValueN(args)
      }),
    (FunctionIdentifier("bloom_contains"), info("bloom_contains", classOf[BloomContains]),
      (args: Seq[Expression]) => { val a = expect("bloom_contains", 2)(args); BloomContains(a(0), a(1)) }),
    (FunctionIdentifier("kll_sketch_agg"), info("kll_sketch_agg", classOf[KllSketchAgg]),
      (args: Seq[Expression]) => args match {
        case Seq(v) => KllSketchAgg(v, 200)
        case Seq(v, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
          KllSketchAgg(v, k)
        case _ => throw new IllegalArgumentException(
          "usage: kll_sketch_agg(value[, k literal])")
      }),
    (FunctionIdentifier("kll_merge_agg"), info("kll_merge_agg", classOf[KllMergeAgg]),
      (args: Seq[Expression]) => args match {
        case Seq(v) => KllMergeAgg(v)
        case Seq(v, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
          KllMergeAgg(v, k)
        case _ => throw new IllegalArgumentException(
          "usage: kll_merge_agg(sketch[, k literal — match the build k])")
      }),
    (FunctionIdentifier("kll_value"), info("kll_value", classOf[KllValue]),
      (args: Seq[Expression]) => { val a = expect("kll_value", 2)(args); KllValue(a(0), a(1)) }),
    (FunctionIdentifier("theta_sketch_agg"), info("theta_sketch_agg", classOf[ThetaSketchAgg]),
      (args: Seq[Expression]) => args match {
        case Seq(v) => ThetaSketchAgg(v, 12)
        case Seq(v, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
          ThetaSketchAgg(v, k)
        case _ => throw new IllegalArgumentException(
          "usage: theta_sketch_agg(item[, lgK literal])")
      }),
    (FunctionIdentifier("theta_union_agg"), info("theta_union_agg", classOf[ThetaUnionAgg]),
      (args: Seq[Expression]) => args match {
        case Seq(v) => ThetaUnionAgg(v)
        case Seq(v, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
          ThetaUnionAgg(v, k)
        case _ => throw new IllegalArgumentException(
          "usage: theta_union_agg(sketch[, lgK literal — match the build lgK])")
      }),
    (FunctionIdentifier("theta_intersect_agg"), info("theta_intersect_agg", classOf[ThetaIntersectAgg]),
      (args: Seq[Expression]) => { val a = expect("theta_intersect_agg", 1)(args); ThetaIntersectAgg(a(0)) }),
    (FunctionIdentifier("theta_estimate"), info("theta_estimate", classOf[ThetaEstimate]),
      (args: Seq[Expression]) => { val a = expect("theta_estimate", 1)(args); ThetaEstimate(a(0)) }),
    (FunctionIdentifier("theta_anotb"), info("theta_anotb", classOf[ThetaANotB]),
      (args: Seq[Expression]) => { val a = expect("theta_anotb", 2)(args); ThetaANotB(a(0), a(1)) }),
    (FunctionIdentifier("kll_rank"), info("kll_rank", classOf[KllRank]),
      (args: Seq[Expression]) => { val a = expect("kll_rank", 2)(args); KllRank(a(0), a(1)) }),
    (FunctionIdentifier("hash_embed"), info("hash_embed", classOf[HashEmbed]),
      (args: Seq[Expression]) => { val a = expect("hash_embed", 2)(args); HashEmbed(a(0), a(1)) }),
    (FunctionIdentifier("bpe_count"), info("bpe_count", classOf[BpeTokenCount]),
      (args: Seq[Expression]) => {
        val a = expect("bpe_count", 2)(args)
        // the model id must be a literal: it resolves HERE, on the
        // driver, so the expression ships the model with the plan
        a(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null =>
            BpeTokenCount(a(0), Bpe.resolve(s.toString))
          case other => throw new IllegalArgumentException(
            s"bpe_count expects a literal model id, got $other")
        }
      }),
    (FunctionIdentifier("bpe_encode"), info("bpe_encode", classOf[BpeEncode]),
      (args: Seq[Expression]) => {
        val a = expect("bpe_encode", 2)(args)
        a(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null =>
            BpeEncode(a(0), Bpe.resolve(s.toString))
          case other => throw new IllegalArgumentException(
            s"bpe_encode expects a literal model id, got $other")
        }
      }),
    (FunctionIdentifier("bpe_decode"), info("bpe_decode", classOf[BpeDecode]),
      (args: Seq[Expression]) => {
        val a = expect("bpe_decode", 2)(args)
        a(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _) if s != null =>
            BpeDecode(a(0), Bpe.resolve(s.toString))
          case other => throw new IllegalArgumentException(
            s"bpe_decode expects a literal model id, got $other")
        }
      }),
  )

  /** Idempotent runtime registration — for sessions not built through
    * GraftSession (a caller's own session, perfbench's harness); every
    * graft main gets the functions from [[GraftExtensions]] instead.
    * Registers the table functions too, so `table_changes()` works
    * everywhere the scalar functions do.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, inf, builder) =>
      registry.registerFunction(id, inf, builder)
    }
    val tvfRegistry = spark.sessionState.tableFunctionRegistry
    tableFunctions.foreach { case (id, inf, builder) =>
      tvfRegistry.registerFunction(id, inf, builder)
    }
  }

  /** Versions-as-millis floor: no table accumulates 10^11 commits,
    * and epoch millis below it predate 1973 — so one integer space
    * serves both operand kinds without a flag.
    */
  private val EpochMillisFloor = 100000000000L

  /** Version operand of the metadata TVFs (`table_changes`,
    * `table_diff`, `table_files`): a commit number, a TAG name, a
    * timestamp string (`'2026-08-01 12:00:00'`, session zone — the
    * contract RESTORE's `TIMESTAMP AS OF` already honors), a typed
    * `TIMESTAMP`/`DATE` literal, or epoch millis (any integer ≥
    * 10^11). "Changes since yesterday" should not require the user to
    * hunt the version number first when [[VersionedTable.versionAt]]
    * already resolves instants. Tag names win over timestamp parses
    * (a tag named like a date pins ITS version — the unambiguous
    * reading, since the user created that tag); a string that is
    * neither fails naming the roster and the accepted forms.
    */
  private def versionOperand(spark: SparkSession,
      vt: graft.sources.VersionedTable, e: Expression,
      fn: String, what: String): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    def millisOf(expr: Expression): Option[Long] = {
      val zone = spark.sessionState.conf.sessionLocalTimeZone
      // TRY semantics: a malformed string is "not a timestamp" (the
      // tag-roster error below owns the message), never an ANSI
      // CAST_INVALID_INPUT out of the operand probe
      Option(Cast(expr, TimestampType, Some(zone),
        org.apache.spark.sql.catalyst.expressions.EvalMode.TRY).eval(null))
        .map(_.asInstanceOf[Long] / 1000L)
    }
    e match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) =>
        if (v >= EpochMillisFloor) vt.versionAt(v) else v.toInt
      case Literal(micros: Long, TimestampType) => vt.versionAt(micros / 1000L)
      case d @ Literal(_, DateType) =>
        vt.versionAt(millisOf(d).getOrElse(throw new IllegalArgumentException(
          s"$fn: $what DATE operand is null")))
      case s @ Literal(u: UTF8String, StringType) =>
        val str = u.toString
        vt.tagVersion(str).orElse(millisOf(s).map(vt.versionAt)).getOrElse(
          throw new IllegalArgumentException(
            s"$fn: $what '$str' is neither a tag of this table (tags: " +
              s"${vt.tagNames.mkString(", ")}) nor a parseable timestamp " +
              "('yyyy-MM-dd[ HH:mm:ss]', session zone)"))
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer version, a tag name, or a " +
          s"timestamp (string, TIMESTAMP/DATE literal, or epoch millis), got $other")
    }
  }

  /** Delta-shaped CDF table function: `SELECT * FROM
    * table_changes('name-or-/path', since [, until])` serves the
    * row-level change feed as plain SQL — the batch twin of the
    * streaming CDF source, joinable/filterable like any relation.
    * Arguments must be foldable (the table identity and version
    * window ARE the relation — there is nothing row-dependent to
    * defer); the feed frame resolves at analysis like a view body.
    */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq((
    FunctionIdentifier("table_changes"),
    new ExpressionInfo("graft.sources.VersionedTable", "table_changes"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (target, e1, e2) = args match {
        case Seq(Literal(t: UTF8String, _), s) => (t.toString, s, None)
        case Seq(Literal(t: UTF8String, _), s, u) => (t.toString, s, Some(u))
        case _ => throw new IllegalArgumentException(
          "usage: table_changes('name-or-/path', since|'tag'[, until|'tag'])")
      }
      val spark = SparkSession.active
      val dir = graft.service.SqlDml.vtableDir(spark, target, "table_changes")
      val vt = graft.sources.VersionedTable(spark, dir)
      // "changes since the blessed snapshot" / "changes since
      // yesterday": a version operand is a commit number, a tag name,
      // or a timestamp — same contract as table_diff/table_files
      def verOf(e: Expression, what: String): Int =
        versionOperand(spark, vt, e, "table_changes", what)
      vt.readChangesSince(verOf(e1, "since"), e2.map(verOf(_, "until")).getOrElse(-1))
        .queryExecution.analyzed
    }), (
    // retroactive row-level diff between any two versions (no CDF
    // needed): `SELECT * FROM table_diff('name-or-/path', v1, v2,
    // 'key')` — readChangesSince's net shape, manifest-pruned to the
    // files unique to either version
    FunctionIdentifier("table_diff"),
    new ExpressionInfo("graft.sources.VersionedTable", "table_diff"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      // a version operand is a commit number OR a tag name ("diff the
      // two blessed snapshots" is the tag workflow's reporting half);
      // resolution needs the table, so names resolve after it opens
      val (target, e1, e2, key) = args match {
        case Seq(Literal(t: UTF8String, _), a, b, Literal(k: UTF8String, _)) =>
          (t.toString, a, b, k.toString)
        case _ => throw new IllegalArgumentException(
          "usage: table_diff('name-or-/path', v1|'tag', v2|'tag', 'key')")
      }
      val spark = SparkSession.active
      val dir = graft.service.SqlDml.vtableDir(spark, target, "table_diff")
      val vt = graft.sources.VersionedTable(spark, dir)
      // a commit number, a tag name ("diff the two blessed
      // snapshots"), or a timestamp ("diff now vs yesterday")
      def verOf(e: Expression, what: String): Int =
        versionOperand(spark, vt, e, "table_diff", what)
      vt.snapshotDiff(verOf(e1, "v1"), verOf(e2, "v2"), key)
        .queryExecution.analyzed
    }), (
    // read a live branch as a relation: `SELECT * FROM
    // table_branch('name-or-/path', 'branch')` — the branch's head
    // snapshot, queryable/joinable without registering a second view
    FunctionIdentifier("table_branch"),
    new ExpressionInfo("graft.sources.VersionedTable", "table_branch"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (target, branch) = args match {
        case Seq(Literal(t: UTF8String, _), Literal(b: UTF8String, _)) =>
          (t.toString, b.toString)
        case _ => throw new IllegalArgumentException(
          "usage: table_branch('name-or-/path', 'branch')")
      }
      val spark = SparkSession.active
      val dir = graft.service.SqlDml.vtableDir(spark, target, "table_branch")
      graft.sources.VersionedTable(spark, dir)
        .branch(branch).read().queryExecution.analyzed
    }), (
    // O(metadata) per-column statistics as SQL: `SELECT * FROM
    // table_stats('name-or-/path'[, version])` — manifest-exact rows,
    // null counts and numeric bounds; NDV-sidecar distincts and
    // KLL-sidecar p50/p95 where coverage holds (null otherwise). The
    // per-column half of DESCRIBE DETAIL; no data file opened.
    FunctionIdentifier("table_stats"),
    new ExpressionInfo("graft.sources.VersionedTable", "table_stats"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (target, version) = args match {
        case Seq(Literal(t: UTF8String, _)) => (t.toString, -1)
        case Seq(Literal(t: UTF8String, _), Literal(v: Int, _)) => (t.toString, v)
        case Seq(Literal(t: UTF8String, _), Literal(v: Long, _)) => (t.toString, v.toInt)
        case _ => throw new IllegalArgumentException(
          "usage: table_stats('name-or-/path'[, version])")
      }
      val spark = SparkSession.active
      val dir = graft.service.SqlDml.vtableDir(spark, target, "table_stats")
      graft.sources.VersionedTable(spark, dir)
        .statsTable(version).queryExecution.analyzed
    }), (
    // the persisted text index as SQL: `SELECT * FROM
    // text_search('/idx', 'spark,merge'[, require_all])` — the
    // bucket-pruned probe ([[graft.operators.TextIndex.search]])
    // served through any SQL entry point, REST /sql included; the
    // driver-computed bucket set rides into PartitionFilters exactly
    // as in the operator path (TextIndexSpec asserts it through the
    // service)
    FunctionIdentifier("text_search"),
    new ExpressionInfo("graft.operators.TextIndex", "text_search"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (dir, terms, all) = args match {
        case Seq(Literal(d: UTF8String, _), Literal(q: UTF8String, _)) =>
          (d.toString, q.toString, true)
        case Seq(Literal(d: UTF8String, _), Literal(q: UTF8String, _),
            Literal(b: Boolean, _)) => (d.toString, q.toString, b)
        case _ => throw new IllegalArgumentException(
          "usage: text_search('/index-dir', 'term,term,...'[, require_all])")
      }
      graft.operators.TextIndex.search(SparkSession.active, dir,
        terms.split(",").map(_.trim).filter(_.nonEmpty).toSeq, all)
        .queryExecution.analyzed
    }), (
    // exact phrase: `SELECT * FROM text_phrase('/idx', 'spark merge')`
    FunctionIdentifier("text_phrase"),
    new ExpressionInfo("graft.operators.TextIndex", "text_phrase"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (dir, phrase) = args match {
        case Seq(Literal(d: UTF8String, _), Literal(p: UTF8String, _)) =>
          (d.toString, p.toString)
        case _ => throw new IllegalArgumentException(
          "usage: text_phrase('/index-dir', 'exact phrase words')")
      }
      graft.operators.TextIndex.phraseSearch(SparkSession.active, dir,
        phrase.split("\\s+").filter(_.nonEmpty).toSeq)
        .queryExecution.analyzed
    }), (
    // proximity: `SELECT * FROM text_near('/idx', 'a', 'b', k[, ordered])`
    FunctionIdentifier("text_near"),
    new ExpressionInfo("graft.operators.TextIndex", "text_near"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      def intOf(e: Expression, what: String): Int = e match {
        case Literal(v: Int, _)  => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"text_near: $what must be an integer literal, got $other")
      }
      val (dir, a, b, k, ordered) = args match {
        case Seq(Literal(d: UTF8String, _), Literal(x: UTF8String, _),
            Literal(y: UTF8String, _), kk) =>
          (d.toString, x.toString, y.toString, intOf(kk, "k"), false)
        case Seq(Literal(d: UTF8String, _), Literal(x: UTF8String, _),
            Literal(y: UTF8String, _), kk, Literal(o: Boolean, _)) =>
          (d.toString, x.toString, y.toString, intOf(kk, "k"), o)
        case _ => throw new IllegalArgumentException(
          "usage: text_near('/index-dir', 'a', 'b', k[, ordered])")
      }
      graft.operators.TextIndex.nearSearch(SparkSession.active, dir, a, b, k,
        ordered).queryExecution.analyzed
    }), (
    // index-served BM25 top-k per term:
    // `SELECT * FROM text_bm25('/idx', 'spark,merge'[, k])`
    FunctionIdentifier("text_bm25"),
    new ExpressionInfo("graft.operators.TextIndex", "text_bm25"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (dir, terms, k) = args match {
        case Seq(Literal(d: UTF8String, _), Literal(q: UTF8String, _)) =>
          (d.toString, q.toString, 10)
        case Seq(Literal(d: UTF8String, _), Literal(q: UTF8String, _),
            Literal(kk: Int, _)) => (d.toString, q.toString, kk)
        case Seq(Literal(d: UTF8String, _), Literal(q: UTF8String, _),
            Literal(kk: Long, _)) => (d.toString, q.toString, kk.toInt)
        case _ => throw new IllegalArgumentException(
          "usage: text_bm25('/index-dir', 'term,term,...'[, topK])")
      }
      graft.operators.TextIndex.bm25(SparkSession.active, dir,
        terms.split(",").map(_.trim).filter(_.nonEmpty).toSeq, topK = k)
        .queryExecution.analyzed
    }), (
    // vector search over a SAVED IVF index as SQL: `SELECT * FROM
    // ann_search('/idx', '0.1,0.2,...', k[, nprobe])` — the
    // cell-pruned probe ([[graft.operators.Similarity.ivfProbe]]; the
    // saved inverted file is partitioned on `cell`, so the scan opens
    // only the probed cells) with the query vector as a CSV float
    // literal. The BATCH form takes a registered VIEW of query
    // vectors instead — `ann_search('/idx', 'query_view', k[,
    // nprobe])` with (vec_id, embedding) columns — and lowers to the
    // operator's one-plan multi-query probe (cell pruning intact,
    // query_id kept), so a SQL user scoring thousands of queries never
    // falls back to per-vector statements. Streamed epochs fold in
    // through IvfIndex.load's recovery, same as the operator path.
    FunctionIdentifier("ann_search"),
    new ExpressionInfo("graft.operators.IvfIndex", "ann_search"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      def intOf(e: Expression, what: String): Int = e match {
        case Literal(v: Int, _)  => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"ann_search: $what must be an integer literal, got $other")
      }
      val (dir, qArg, k, nprobe) = args match {
        case Seq(Literal(d: UTF8String, _), Literal(v: UTF8String, _)) =>
          (d.toString, v.toString, 10, 3)
        case Seq(Literal(d: UTF8String, _), Literal(v: UTF8String, _), kk) =>
          (d.toString, v.toString, intOf(kk, "k"), 3)
        case Seq(Literal(d: UTF8String, _), Literal(v: UTF8String, _), kk, np) =>
          (d.toString, v.toString, intOf(kk, "k"), intOf(np, "nprobe"))
        case _ => throw new IllegalArgumentException(
          "usage: ann_search('/index-dir', '<f1,f2,...>' | '<query_view>', k[, nprobe])")
      }
      val spark = SparkSession.active
      // a CSV of floats is almost never a SQL identifier, so the
      // argument shape routes itself: identifier → batch view,
      // otherwise CSV — but NEITHER probe may fail opaquely. An
      // identifier that is no registered table still gets a CSV-parse
      // attempt ('NaN' / 'Infinity' ARE float-parseable 1-d vectors),
      // and any final miss names BOTH accepted forms instead of
      // surfacing a bare NumberFormatException / table-not-found.
      def csvVec: Option[Array[Float]] =
        try Some(qArg.split(",").map(_.trim.toFloat))
        catch { case _: NumberFormatException => None }
      val asView: Option[org.apache.spark.sql.DataFrame] =
        if (!qArg.matches("[A-Za-z_][A-Za-z0-9_.]*")) None
        else try Some(spark.table(qArg))
        catch {
          // ONLY not-found falls through to the CSV attempt: a view
          // that exists but is broken (dropped backing table,
          // unresolvable column) must surface its own diagnosis, not
          // be misreported as "neither a view nor a CSV"
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getCondition)
                .exists(_.startsWith("TABLE_OR_VIEW_NOT_FOUND")) => None
        }
      asView match {
        case Some(q) =>
          require(q.columns.contains("vec_id") && q.columns.contains("embedding"),
            s"ann_search: query view '$qArg' needs (vec_id, embedding) columns, " +
              s"got (${q.columns.mkString(", ")})")
          graft.operators.Similarity
            .ivfProbe(graft.operators.IvfIndex.load(spark, dir),
              q.select("vec_id", "embedding"), k, nprobe)
            .queryExecution.analyzed // batch: (query_id, vec_id, cos, rk)
        case None =>
          val vec = csvVec.getOrElse(throw new IllegalArgumentException(
            s"ann_search: '$qArg' is neither a registered view of " +
              "(vec_id, embedding) query vectors nor a parseable CSV float " +
              "vector ('0.1,0.2,...'); register the batch view with " +
              "createOrReplaceTempView or pass the vector as comma-separated floats"))
          import spark.implicits._
          val q = Seq((-1L, vec)).toDF("vec_id", "embedding")
          graft.operators.Similarity
            .ivfProbe(graft.operators.IvfIndex.load(spark, dir), q, k, nprobe)
            .drop("query_id") // single query: (vec_id, cos, rk)
            .queryExecution.analyzed
      }
    }), (
    // the as-of (merge-asof) join as SQL — Spark has no ASOF grammar
    // and a naive inequality join plans O(n·m) per key:
    // `SELECT * FROM asof_join('trades', 'quotes', 'sym', 'ts',
    // 'bid,ask')` runs the union+window composition (one shuffle on
    // the key, no join explosion); output = every left column plus
    // asof_time and asof_<payload> (null when nothing precedes)
    FunctionIdentifier("asof_join"),
    new ExpressionInfo("graft.operators.AsofJoin", "asof_join"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (l, r, key, time, payload) = args match {
        case Seq(Literal(lv: UTF8String, _), Literal(rv: UTF8String, _),
            Literal(k: UTF8String, _), Literal(t: UTF8String, _),
            Literal(p: UTF8String, _)) =>
          (lv.toString, rv.toString, k.toString, t.toString,
            p.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case _ => throw new IllegalArgumentException(
          "usage: asof_join('left_view', 'right_view', 'key', 'time', 'payload1,payload2,...')")
      }
      val spark = SparkSession.active
      graft.operators.AsofJoin.asofJoin(
        spark.table(l), spark.table(r), key, time, payload)
        .queryExecution.analyzed
    }), (
    // the commit log as a relation (the `history` metadata-table
    // idiom): `SELECT * FROM table_history('name-or-/path'[, limit])`
    // — filterable/joinable where DESCRIBE HISTORY is a flat command
    FunctionIdentifier("table_history"),
    new ExpressionInfo("graft.sources.VersionedTable", "table_history"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (target, limit) = args match {
        case Seq(Literal(t: UTF8String, _)) => (t.toString, 100)
        case Seq(Literal(t: UTF8String, _), Literal(v: Int, _)) => (t.toString, v)
        case Seq(Literal(t: UTF8String, _), Literal(v: Long, _)) => (t.toString, v.toInt)
        case _ => throw new IllegalArgumentException(
          "usage: table_history('name-or-/path'[, maxVersions])")
      }
      val spark = SparkSession.active
      val dir = graft.service.SqlDml.vtableDir(spark, target, "table_history")
      graft.sources.VersionedTable(spark, dir)
        .history(limit).queryExecution.analyzed
    }), (
    // per-file metadata at a version (the `files` metadata table):
    // `SELECT * FROM table_files('name-or-/path'[, version])` —
    // (file, rows, size_bytes), O(manifest), no data file opened
    FunctionIdentifier("table_files"),
    new ExpressionInfo("graft.sources.VersionedTable", "table_files"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val (target, verArg) = args match {
        case Seq(Literal(t: UTF8String, _)) => (t.toString, None)
        case Seq(Literal(t: UTF8String, _), v) => (t.toString, Some(v))
        case _ => throw new IllegalArgumentException(
          "usage: table_files('name-or-/path'[, version|'tag'])")
      }
      val spark = SparkSession.active
      val dir = graft.service.SqlDml.vtableDir(spark, target, "table_files")
      val vt = graft.sources.VersionedTable(spark, dir)
      // a tag name or a timestamp pins the listed version, same
      // operand contract as table_changes/table_diff
      val version = verArg
        .map(versionOperand(spark, vt, _, "table_files", "version"))
        .getOrElse(-1)
      vt.filesTable(version).queryExecution.analyzed
    }), (
    // the live branch roster as a relation (DESCRIBE BRANCHES' TVF
    // twin): `SELECT * FROM table_branches('name-or-/path')` —
    // (branch, fork_version, head_version)
    FunctionIdentifier("table_branches"),
    new ExpressionInfo("graft.sources.VersionedTable", "table_branches"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val target = args match {
        case Seq(Literal(t: UTF8String, _)) => t.toString
        case _ => throw new IllegalArgumentException(
          "usage: table_branches('name-or-/path')")
      }
      val spark = SparkSession.active
      val dir = graft.service.SqlDml.vtableDir(spark, target, "table_branches")
      import spark.implicits._
      graft.sources.VersionedTable(spark, dir).branches()
        .toDF("branch", "fork_version", "head_version")
        .queryExecution.analyzed
    }), (
    // the live tag roster as a relation (DESCRIBE TAGS' TVF twin):
    // `SELECT * FROM table_tags('name-or-/path')` — (tag, version, ts)
    FunctionIdentifier("table_tags"),
    new ExpressionInfo("graft.sources.VersionedTable", "table_tags"),
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.unsafe.types.UTF8String
      val target = args match {
        case Seq(Literal(t: UTF8String, _)) => t.toString
        case _ => throw new IllegalArgumentException(
          "usage: table_tags('name-or-/path')")
      }
      val spark = SparkSession.active
      val dir = graft.service.SqlDml.vtableDir(spark, target, "table_tags")
      import spark.implicits._
      graft.sources.VersionedTable(spark, dir).tags()
        .toDF("tag", "version", "ts", "message")
        .queryExecution.analyzed
    }))

  // ---- typed Column wrappers (DataFrame API surface) ----
  import org.apache.spark.sql.functions.lit

  def dotF(a: Column, b: Column): Column = call_function("dot_f", a, b)
  def normF(a: Column): Column = call_function("norm_f", a)
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def minhashSig(text: Column, numHashes: Int, shingleSize: Int): Column =
    call_function("minhash_sig", text, lit(numHashes), lit(shingleSize))
  def simhash64(text: Column, shingleSize: Int): Column =
    call_function("simhash64", text, lit(shingleSize))
  def rollingFp(text: Column): Column = call_function("rolling_fp", text)
  def tokenCount(text: Column): Column = call_function("token_count", text)
  def canonicalUrl(url: Column): Column = call_function("canonical_url", url)
  def hamming64(a: Column, b: Column): Column = call_function("hamming64", a, b)
  def wordShingles(text: Column, k: Int): Column =
    call_function("word_shingles", text, lit(k))
  def zvalue(a: Column, b: Column): Column = call_function("zvalue", a, b)
  def zvalueN(ids: Column*): Column = call_function("zvalue_n", ids: _*)
  def bloomContains(bloom: Column, h: Column): Column =
    call_function("bloom_contains", bloom, h)
  def hashEmbed(text: Column, dim: Int): Column =
    call_function("hash_embed", text, lit(dim))
  def kllSketchAgg(v: Column, k: Int = 200): Column =
    call_function("kll_sketch_agg", v, lit(k))
  def kllMergeAgg(s: Column, k: Int = 200): Column =
    call_function("kll_merge_agg", s, lit(k))
  def kllValue(s: Column, p: Double): Column =
    call_function("kll_value", s, lit(p))
  def thetaSketchAgg(v: Column, lgK: Int = 12): Column =
    call_function("theta_sketch_agg", v, lit(lgK))
  def thetaUnionAgg(s: Column, lgK: Int = 12): Column =
    call_function("theta_union_agg", s, lit(lgK))
  def thetaIntersectAgg(s: Column): Column = call_function("theta_intersect_agg", s)
  def thetaEstimate(s: Column): Column = call_function("theta_estimate", s)
  def thetaANotB(a: Column, b: Column): Column = call_function("theta_anotb", a, b)
  def kllRank(s: Column, v: Double): Column = call_function("kll_rank", s, lit(v))
}

/** SparkSessionExtensions hook: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // session-flagged COUNT(DISTINCT) → HLL sketch rewrite (off by
    // default; see graft.plans.ApproxDistinctRewrite)
    ext.injectOptimizerRule(graft.plans.ApproxDistinctRewrite)
    // naive `JOIN ON levenshtein(a,b) <= d` (d <= 1) → the lossless
    // deletion-neighborhood blocked join instead of a nested loop
    ext.injectOptimizerRule(_ => graft.plans.EdJoinRewrite)
    // naive range join (x BETWEEN lo AND hi) → binned equi-join when
    // spark.graft.rangeJoin.binSize is set (off otherwise)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // plans graft.plans.TopKPerGroupPlan (bounded-heap per-group
    // top-k); inert on every other plan node
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // literal-only statements (SELECT 1 AS one) collect without a job
    ext.injectPlannerStrategy(_ => graft.plans.OneRowLocal)
    // comparison constants reach generated code by reference, so
    // statements that differ only in them reuse compiled code
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = graft.plans.StableLiterals
    })
    // SQL DML over vtable views in PLAIN spark.sql (MERGE INTO /
    // UPDATE / DELETE FROM / INSERT / DESCRIBE HISTORY) — pure routing
    // over the delegate's parse; see graft.service.GraftSqlParser
    // (the same parser substitutes VERSION AS OF / TIMESTAMP AS OF
    // over vtable views — an analyzer rule would lose the race with
    // ResolveRelations' eager temp-view time-travel error)
    ext.injectParser((session, delegate) =>
      new graft.service.GraftSqlParser(session, delegate))
    // lazy vtable scans: bare markers plan as a full snapshot read.
    // The COLLAPSING rule (Filter-over-marker → pruned scan, DFP,
    // metadata aggregates) is deliberately NOT injected here — it
    // belongs in the "User Provided Optimizers" tail batch, installed
    // by scan() itself, where constraint inference and subquery
    // rewrites have finished; an operator-optimization-batch copy
    // would expand markers before those phases could contribute
    // prunable filters (see graft.plans.VTableScan)
    ext.injectPlannerStrategy(graft.plans.VTableScanStrategy)
    // CDF table function (see GraftFunctions.tableFunctions)
    GraftFunctions.tableFunctions.foreach(ext.injectTableFunction)
  }
}
