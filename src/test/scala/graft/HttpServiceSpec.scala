package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.BeforeAndAfterAll

import graft.service.{HttpQueryService, QueryService}

class HttpServiceSpec extends SparkSpecBase with BeforeAndAfterAll {

  private lazy val service = new QueryService(spark)
  @volatile private var httpStarted = false
  private lazy val http = {
    val h = new HttpQueryService(service, port = 0).start()
    httpStarted = true
    h
  }
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = {
    // the lazy server (and its thread pool) must not outlive the suite
    if (httpStarted) http.stop()
    super.afterAll()
  }

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${http.boundPort}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${http.boundPort}$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A JSON string literal of `s` (the /sql request body's `query`). */
  private def jsonStr(s: String): String = mapper.writeValueAsString(s)

  /** POST /sql with `query`, plus raw extra body fields (`"limit":1`). */
  private def sql(query: String, extra: String = ""): HttpResponse[String] =
    post("/sql", s"""{"query":${jsonStr(query)}${if (extra.isEmpty) "" else "," + extra}}""")

  test("POST /register + /sql round-trips a parquet table over HTTP") {
    val reg = post("/register",
      s"""{"name":"http_nation","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    assert(reg.statusCode == 200 && reg.body.contains("\"registered\":\"http_nation\""), reg.body)
    assert(reg.body.contains("n_name"), reg.body)

    val res = post("/sql",
      """{"query":"SELECT n_name FROM http_nation ORDER BY n_nationkey LIMIT 2"}""")
    assert(res.statusCode == 200, res.body)
    // HTTP rows must be byte-identical to the library-level sqlJson rows
    val expected = service
      .sqlJson("SELECT n_name FROM http_nation ORDER BY n_nationkey LIMIT 2")
    assert(res.body == s"""{"rows":[${expected.mkString(",")}],"count":2,"offset":0}""", res.body)
  }

  test("information_schema.tables/columns introspect the catalog over plain SQL") {
    post("/register",
      s"""{"name":"is_nation","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    val tabs = post("/sql",
      """{"query":"SELECT table_name, table_type FROM information_schema.tables WHERE table_name = 'is_nation'"}""")
    assert(tabs.statusCode == 200 &&
      tabs.body.contains("\"table_type\":\"BASE TABLE\""), tabs.body)
    val cols = post("/sql",
      """{"query":"SELECT column_name, data_type FROM information_schema.columns WHERE table_name = 'is_nation' ORDER BY ordinal_position"}""")
    assert(cols.statusCode == 200 && cols.body.contains("n_nationkey") &&
      cols.body.contains("\"data_type\":\"int\""), cols.body)
    // refresh-on-reference: a registration AFTER a prior info-schema
    // query is visible to the next one, no invalidation protocol
    post("/register",
      s"""{"name":"is_region","format":"parquet","path":"${TestSpark.sfDir}/region.parquet"}""")
    val again = post("/sql",
      """{"query":"SELECT count(*) AS n FROM information_schema.tables WHERE table_name IN ('is_nation','is_region')"}""")
    assert(again.statusCode == 200 && again.body.contains("\"n\":2"), again.body)
    // a quoted literal is data, not a reference — it must come back
    // verbatim, not rewritten to the backing view's name
    val lit = post("/sql",
      """{"query":"SELECT 'information_schema.tables' AS s"}""")
    assert(lit.statusCode == 200 &&
      lit.body.contains("\"s\":\"information_schema.tables\""), lit.body)
    // a submitted view surfaces its recorded SQL in information_schema.views
    post("/submit",
      """{"name":"is_view1","query":"SELECT n_name FROM is_nation WHERE n_nationkey < 3"}""")
    val views = post("/sql",
      """{"query":"SELECT view_definition FROM information_schema.views WHERE table_name = 'is_view1'"}""")
    assert(views.statusCode == 200 &&
      views.body.contains("n_nationkey < 3"), views.body)
    // a submitted view OVER information_schema refuses loudly: the
    // stored analyzed plan would bake the catalog rows at submit time —
    // a listing frozen forever while looking live
    val frozen = post("/submit",
      """{"name":"is_frozen","query":"SELECT table_name FROM information_schema.tables"}""")
    assert(frozen.statusCode != 200 &&
      frozen.body.contains("information_schema"), frozen.body)
    // introspection is never served from the result cache: a cached
    // listing would go stale on the next registration (registrations
    // bump nonces for the registered names, not the info views)
    val q = """{"query":"SELECT count(*) AS n FROM information_schema.tables WHERE table_name LIKE 'is_%'","cache":true}"""
    val c1 = post("/sql", q)
    post("/register",
      s"""{"name":"is_supplier","format":"parquet","path":"${TestSpark.sfDir}/supplier.parquet"}""")
    val c2 = post("/sql", q)
    def n(b: String) = "\"n\":(\\d+)".r.findFirstMatchIn(b).get.group(1).toInt
    assert(n(c2.body) == n(c1.body) + 1,
      s"cached introspection went stale: ${c1.body} -> ${c2.body}")
    assert(!c2.body.contains("\"cached\":true"), c2.body)
  }

  test("information_schema.table_constraints lists CHECK/UNIQUE rows over plain SQL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-http-cons").toString + "/t"
    val vt = graft.sources.VersionedTable(service.spark, dir)
    import service.spark.implicits._
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    vt.addConstraint("k_pos", "k > 0")
    vt.addUniqueConstraint("k_uq", Seq("k"))
    post("/register", s"""{"name":"is_cons_t","format":"vtable","path":"$dir"}""")
    val res = post("/sql",
      """{"query":"SELECT constraint_name, constraint_type, definition FROM information_schema.table_constraints WHERE table_name = 'is_cons_t' ORDER BY constraint_name"}""")
    assert(res.statusCode == 200, res.body)
    assert(res.body.contains("\"constraint_name\":\"k_pos\"") &&
      res.body.contains("\"constraint_type\":\"CHECK\"") &&
      res.body.contains("\"definition\":\"k > 0\""), res.body)
    assert(res.body.contains("\"constraint_name\":\"k_uq\"") &&
      res.body.contains("\"constraint_type\":\"UNIQUE\"") &&
      res.body.contains("\"definition\":\"k\""), res.body)
    // refresh-on-reference: dropping a constraint is visible to the
    // next statement with no invalidation protocol
    vt.dropConstraint("k_pos")
    val after = post("/sql",
      """{"query":"SELECT count(*) AS n FROM information_schema.table_constraints WHERE table_name = 'is_cons_t'"}""")
    assert(after.statusCode == 200 && after.body.contains("\"n\":1"), after.body)
  }

  test("POST /sql binds named parameters as values, never spliced text") {
    post("/register",
      s"""{"name":"http_param_nation","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    // numeric + string binds
    val ok = post("/sql",
      """{"query":"SELECT n_name FROM http_param_nation WHERE n_nationkey = :k AND n_name <> :skip ORDER BY n_name",
        |"args":{"k":3,"skip":"nobody"}}""".stripMargin.replace("\n", ""))
    assert(ok.statusCode == 200 && ok.body.contains("\"count\":1"), ok.body)
    // an injection-shaped STRING stays a value: zero rows, not all rows
    val inj = post("/sql",
      """{"query":"SELECT n_name FROM http_param_nation WHERE n_name = :v",
        |"args":{"v":"x' OR '1'='1"}}""".stripMargin.replace("\n", ""))
    assert(inj.statusCode == 200 && inj.body.contains("\"count\":0"),
      s"injection-shaped bind must match nothing: ${inj.body}")
    // parameterized requests skip the result cache (keys are query
    // TEXT; two binds of one text must never share an entry)
    val c1 = post("/sql",
      """{"query":"SELECT count(*) AS n FROM http_param_nation WHERE n_nationkey < :k",
        |"args":{"k":5},"cache":true}""".stripMargin.replace("\n", ""))
    assert(c1.statusCode == 200 && !c1.body.contains("\"cached\""), c1.body)
    val c2 = post("/sql",
      """{"query":"SELECT count(*) AS n FROM http_param_nation WHERE n_nationkey < :k",
        |"args":{"k":9}}""".stripMargin.replace("\n", ""))
    assert(c1.body.contains("\"n\":5") && c2.body.contains("\"n\":9"),
      s"two binds of one text must answer independently: ${c1.body} / ${c2.body}")
    // non-scalar args refuse loudly
    val bad = post("/sql",
      """{"query":"SELECT 1","args":{"k":[1,2]}}""")
    assert(bad.statusCode == 400 && bad.body.contains("scalar"), bad.body)
    // POSITIONAL binds: a JSON array binds ? markers left to right
    val pos = post("/sql",
      """{"query":"SELECT n_name FROM http_param_nation WHERE n_nationkey = ? AND n_name <> ? ORDER BY n_name",
        |"args":[3,"nobody"]}""".stripMargin.replace("\n", ""))
    assert(pos.statusCode == 200 && pos.body.contains("\"count\":1"), pos.body)
    val posInj = post("/sql",
      """{"query":"SELECT n_name FROM http_param_nation WHERE n_name = ?",
        |"args":["x' OR '1'='1"]}""".stripMargin.replace("\n", ""))
    assert(posInj.statusCode == 200 && posInj.body.contains("\"count\":0"),
      s"positional injection-shaped bind must match nothing: ${posInj.body}")
    // the async plane binds identically
    val sub = post("/query",
      """{"query":"SELECT n_name FROM http_param_nation WHERE n_nationkey = :k ORDER BY n_name",
        |"args":{"k":3}}""".stripMargin.replace("\n", ""))
    assert(sub.statusCode == 200, sub.body)
    val jid = """"job":"([^"]+)"""".r.findFirstMatchIn(sub.body).get.group(1)
    val deadline = System.currentTimeMillis + 30000
    var done = false
    while (!done && System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      done = get(s"/query/$jid").body.contains("\"done\"")
    }
    assert(done, "async parameterized job must finish")
    val res = get(s"/query/$jid/result")
    assert(res.body.contains("\"count\":1"), res.body)
  }

  test("POST /sql honors the collect limit and caps it server-side") {
    post("/register",
      s"""{"name":"http_orders","format":"parquet","path":"${TestSpark.sfDir}/orders.parquet"}""")
    val res = post("/sql", """{"query":"SELECT o_orderkey FROM http_orders","limit":7}""")
    // a full page advertises the next cursor
    assert(res.statusCode == 200 &&
      res.body.endsWith(""","count":7,"offset":0,"next_offset":7}"""), res.body)
    // a huge client limit is clamped to the server's maxRows, so one
    // request cannot collect an unbounded result into the driver
    val capped = new graft.service.HttpQueryService(service, port = 0, maxRows = 5).start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${capped.boundPort}/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query":"SELECT o_orderkey FROM http_orders","limit":2147483647}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode == 200 &&
        r.body.endsWith(""","count":5,"offset":0,"next_offset":5}"""), r.body)
    } finally capped.stop()
    val bad = post("/sql", """{"query":"SELECT 1","limit":-1}""")
    assert(bad.statusCode == 400 && bad.body.contains("positive"), bad.body)
  }

  test("POST /submit publishes a named result queryable by later /sql") {
    post("/register",
      s"""{"name":"http_nation3","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    val sub = post("/submit",
      """{"name":"big_nations","query":"SELECT n_name FROM http_nation3 WHERE n_nationkey >= 20"}""")
    assert(sub.statusCode == 200 && sub.body == """{"submitted":"big_nations"}""", sub.body)
    val res = post("/sql", """{"query":"SELECT count(*) AS n FROM big_nations"}""")
    assert(res.statusCode == 200 && res.body.contains("\"n\":5"), res.body)
  }

  test("POST /cache and /uncache manage name-keyed caching over HTTP") {
    post("/register",
      s"""{"name":"http_part","format":"parquet","path":"${TestSpark.sfDir}/part.parquet"}""")
    val c = post("/cache", """{"name":"http_part"}""")
    assert(c.statusCode == 200 && c.body == """{"cached":"http_part"}""", c.body)
    assert(spark.catalog.isCached("http_part"))
    val u = post("/uncache", """{"name":"http_part"}""")
    assert(u.statusCode == 200 && !spark.catalog.isCached("http_part"), u.body)
    // caching an unknown table is a client error, not a 500
    assert(post("/cache", """{"name":"no_such_table"}""").statusCode == 400)
  }

  test("GET /tables lists registered sources") {
    post("/register",
      s"""{"name":"http_region","format":"parquet","path":"${TestSpark.sfDir}/region.parquet"}""")
    val res = get("/tables")
    assert(res.statusCode == 200 && res.body.contains("http_region"), res.body)
  }

  test("POST /explain returns the plan without executing") {
    post("/register",
      s"""{"name":"http_nation2","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    val res = post("/explain", """{"query":"SELECT count(*) FROM http_nation2"}""")
    assert(res.statusCode == 200 && res.body.contains("Physical Plan"), res.body)
  }

  test("POST /explain answers a planning failure as /sql does: an error status with the reason") {
    // ANSI divide-by-zero raises while the optimizer folds the constant
    val boom = post("/explain", """{"query":"SELECT 1/0 AS x"}""")
    assert(boom.statusCode == 500 && boom.body.contains("DIVIDE_BY_ZERO"),
      s"${boom.statusCode} ${boom.body}")
    val unknown = post("/explain", """{"query":"SELECT * FROM http_no_such_table"}""")
    assert(unknown.statusCode == 400 && unknown.body.contains("http_no_such_table"),
      s"${unknown.statusCode} ${unknown.body}")
    // a command is planned, never run
    val view = post("/explain", """{"query":"CREATE TEMPORARY VIEW http_explain_v AS SELECT 1 AS x"}""")
    assert(view.statusCode == 200 && view.body.contains("Physical Plan"), view.body)
    assert(!spark.catalog.tableExists("http_explain_v"))
  }

  test("POST /sql pages server-side via next_offset with no overlap or loss") {
    post("/register",
      s"""{"name":"http_nation_pg","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    val q = "SELECT n_nationkey FROM http_nation_pg ORDER BY n_nationkey"
    def page(offset: Int) =
      post("/sql", s"""{"query":"$q","limit":10,"offset":$offset}""")
    val keys = scala.collection.mutable.ArrayBuffer.empty[Int]
    def keysOf(body: String): Seq[Int] =
      """"n_nationkey":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toInt).toSeq
    val p1 = page(0)
    assert(p1.statusCode == 200 && p1.body.contains(""""next_offset":10"""), p1.body)
    keys ++= keysOf(p1.body)
    val p2 = page(10)
    assert(p2.body.contains(""""offset":10""") && p2.body.contains(""""next_offset":20"""), p2.body)
    keys ++= keysOf(p2.body)
    val p3 = page(20)
    // nation has 25 rows: the last page is short and carries no cursor
    assert(p3.body.contains(""""count":5""") && !p3.body.contains("next_offset"), p3.body)
    keys ++= keysOf(p3.body)
    // stable ORDER BY + server paging: every row exactly once, in order
    assert(keys.toSeq == (0 until 25).toSeq, keys.mkString(","))
  }

  test("POST /cancel kills a tagged runaway query") {
    import java.util.concurrent.{Executors, TimeUnit}
    val ex = Executors.newSingleThreadExecutor()
    try {
      // range() is lazy (no driver memory), big enough to run for many
      // seconds on 32 cores — the runaway shape /cancel exists for
      val f = ex.submit[java.net.http.HttpResponse[String]](() =>
        post("/sql",
          """{"query":"SELECT max(id) AS s FROM range(2000000000000)","tag":"runaway"}"""))
      val sc = spark.sparkContext
      // the service namespaces client tags into graft-http-<tag> so
      // they can never collide with the async plane's job groups
      val deadline = System.currentTimeMillis + 30000
      while (sc.statusTracker.getJobIdsForGroup("graft-http-runaway").isEmpty &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(sc.statusTracker.getJobIdsForGroup("graft-http-runaway").nonEmpty,
        "query never started")
      val c = post("/cancel", """{"tag":"runaway"}""")
      assert(c.statusCode == 200 && c.body.contains("runaway"), c.body)
      // the in-flight request fails server-side (500) with a
      // cancellation message — not a hung connection
      val r = f.get(60, TimeUnit.SECONDS)
      assert(r.statusCode == 500 && r.body.toLowerCase.contains("cancel"),
        s"${r.statusCode} ${r.body}")
    } finally ex.shutdownNow()
  }

  test("async jobs: submit, poll to done, page results, cancel a runaway") {
    post("/register",
      s"""{"name":"http_nation_aq","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    // fast job: submit -> poll to done -> page the cached result
    val sub = post("/query",
      """{"query":"SELECT n_nationkey FROM http_nation_aq ORDER BY n_nationkey"}""")
    assert(sub.statusCode == 200 && sub.body.contains("\"job\""), sub.body)
    val id = """"job":"([^"]+)"""".r.findFirstMatchIn(sub.body).get.group(1)
    val deadline = System.currentTimeMillis + 60000
    var status = ""
    while (status != "done" && System.currentTimeMillis < deadline) {
      val s = get(s"/query/$id")
      status = """"status":"([^"]+)"""".r.findFirstMatchIn(s.body).get.group(1)
      if (status == "failed") fail(s.body)
      if (status != "done") Thread.sleep(50)
    }
    assert(status == "done")
    assert(get(s"/query/$id").body.contains(""""rows":25"""))
    // pages slice the driver-cached rows; before-done fetch contract below
    val p1 = get(s"/query/$id/result?offset=0&limit=10")
    val p2 = get(s"/query/$id/result?offset=20&limit=10")
    assert(p1.statusCode == 200 && p1.body.contains(""""count":10"""), p1.body)
    assert(p2.body.contains(""""count":5""") && p2.body.contains(""""offset":20"""), p2.body)
    // unknown ids are 404 on status AND result
    assert(get("/query/nope").statusCode == 404)
    assert(get("/query/nope/result").statusCode == 404)
    // runaway job: cancel lands it in failed with a cancellation error
    val slow = post("/query", """{"query":"SELECT max(id) AS s FROM range(2000000000000)"}""")
    val slowId = """"job":"([^"]+)"""".r.findFirstMatchIn(slow.body).get.group(1)
    val sc = spark.sparkContext
    val d2 = System.currentTimeMillis + 30000
    while (sc.statusTracker.getJobIdsForGroup(s"graft-async-$slowId").isEmpty &&
      System.currentTimeMillis < d2) Thread.sleep(50)
    // result before completion is a 409, not a hang or empty page
    assert(get(s"/query/$slowId/result").statusCode == 409)
    assert(post(s"/query/$slowId/cancel", "{}").statusCode == 200)
    var slowStatus = ""
    val d3 = System.currentTimeMillis + 60000
    while (slowStatus != "failed" && System.currentTimeMillis < d3) {
      val s = get(s"/query/$slowId")
      slowStatus = """"status":"([^"]+)"""".r.findFirstMatchIn(s.body).get.group(1)
      if (slowStatus != "failed") Thread.sleep(100)
    }
    assert(slowStatus == "failed")
    assert(get(s"/query/$slowId").body.toLowerCase.contains("cancel"))
  }

  test("saturated query plane sheds 503 while /cancel stays responsive") {
    import java.util.concurrent.{Executors, TimeUnit}
    // one query slot, near-immediate shed: the second query can't wait
    val tiny = new HttpQueryService(service, port = 0,
      maxConcurrentQueries = 1, queueWaitMs = 300).start()
    val ex = Executors.newFixedThreadPool(2)
    try {
      def tinyPost(path: String, body: String) =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${tiny.boundPort}$path"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val slow = ex.submit[HttpResponse[String]](() =>
        tinyPost("/sql",
          """{"query":"SELECT max(id) AS s FROM range(2000000000000)","tag":"sat"}"""))
      val sc = spark.sparkContext
      val deadline = System.currentTimeMillis + 30000
      while (sc.statusTracker.getJobIdsForGroup("graft-http-sat").isEmpty &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      // data plane full -> 503, not an unbounded queue
      val shed = tinyPost("/sql", """{"query":"SELECT 1 AS one"}""")
      assert(shed.statusCode == 503 && shed.body.contains("busy"), s"${shed.statusCode}")
      // control plane still answers and frees the slot
      val c = tinyPost("/cancel", """{"tag":"sat"}""")
      assert(c.statusCode == 200, c.body)
      assert(slow.get(60, TimeUnit.SECONDS).statusCode == 500)
      val after = tinyPost("/sql", """{"query":"SELECT 1 AS one"}""")
      assert(after.statusCode == 200, s"slot not released: ${after.statusCode}")
    } finally { ex.shutdownNow(); tiny.stop() }
  }

  test("oversized bodies get 413; runtime SQL faults get 500, not 400") {
    val big = "x" * ((1 << 20) + 64)
    val huge = post("/sql", s"""{"query":"SELECT 1","pad":"$big"}""")
    assert(huge.statusCode == 413 && huge.body.contains("exceeds"), huge.statusCode.toString)
    // analysis passes, execution fails (ANSI divide-by-zero): the fault
    // class is the server's, not the caller's
    val boom = post("/sql", """{"query":"SELECT 1/0 AS x"}""")
    assert(boom.statusCode == 500 && boom.body.contains("\"error\""), s"${boom.statusCode} ${boom.body}")
  }

  test("""POST /sql with "cache":true serves repeats from the result cache""") {
    post("/register",
      s"""{"name":"http_cache_t","format":"parquet","path":"${TestSpark.sfDir}/region.parquet"}""")
    val q = """{"query":"SELECT r_name FROM http_cache_t ORDER BY r_regionkey","cache":true}"""
    val cold = post("/sql", q)
    assert(cold.statusCode == 200 && cold.body.contains(""""cached":false"""), cold.body)
    val warm = post("/sql", q)
    assert(warm.statusCode == 200 && warm.body.contains(""""cached":true"""), warm.body)
    // identical rows either way; stats endpoint reflects the traffic
    assert(cold.body.replace(""""cached":false""", "") ==
      warm.body.replace(""""cached":true""", ""))
    val stats = get("/cachestats")
    assert(stats.statusCode == 200 &&
      stats.body.matches("""\{"hits":[1-9]\d*,"misses":[1-9]\d*\}"""), stats.body)
  }

  test("DESCRIBE HISTORY and table_history over /sql read a vtable's commit log by path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-hist").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("id", "v"))
    vt.overwrite(Seq((2L, "b")).toDF("id", "v"))
    val res = sql(s"DESCRIBE HISTORY '$dir'")
    assert(res.statusCode == 200, res.body)
    assert(res.body.contains(""""count":2"""), res.body)
    assert(res.body.indexOf(""""op":"overwrite"""") <
      res.body.indexOf(""""op":"append""""), s"not newest-first: ${res.body}")
    val tvf = sql(s"SELECT version, op FROM table_history('$dir', 1)")
    assert(tvf.statusCode == 200 &&
      tvf.body.contains(""""rows":[{"version":2,"op":"overwrite"}]"""), tvf.body)
    // a never-committed path is a client fault, not a 500
    val bad = sql("DESCRIBE HISTORY '/tmp/definitely-not-a-table-xyz'")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")
  }

  test("DESCRIBE DETAIL and table_stats over /sql return manifest metadata without scanning") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-desc").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    vt.append(Seq((10L, "c")).toDF("id", "v"))
    val res = sql(s"SELECT col_name, n_rows, n_nulls, min_val, max_val FROM table_stats('$dir')")
    assert(res.statusCode == 200, res.body)
    assert(res.body.contains(
      """{"col_name":"id","n_rows":3,"n_nulls":0,"min_val":"1","max_val":"10"}"""), res.body)
    // version pin: the first commit's snapshot
    val v1 = sql(s"SELECT n_rows FROM table_stats('$dir', 1) WHERE col_name = 'id'")
    assert(v1.statusCode == 200 && v1.body.contains(""""n_rows":2"""), v1.body)
    val bad = sql("SELECT * FROM table_stats('/tmp/definitely-not-a-table-xyz')")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")
    val badDetail = sql("DESCRIBE DETAIL '/tmp/definitely-not-a-table-xyz'")
    assert(badDetail.statusCode == 400, s"${badDetail.statusCode}: ${badDetail.body}")
    // the operational fields ride along: CDF flag + enforced CHECKs
    val detail = sql(s"DESCRIBE DETAIL '$dir'")
    assert(detail.statusCode == 200 && detail.body.contains(""""num_rows":3"""), detail.body)
    assert(detail.body.contains(""""cdf_enabled":false"""), detail.body)
    assert(detail.body.contains(""""constraints":"""""), detail.body)
    vt.addConstraint("id_pos", "id > 0")
    val withCk = sql(s"DESCRIBE DETAIL '$dir'")
    assert(withCk.body.contains(""""constraints":"id_pos CHECK (id > 0)""""), withCk.body)
  }

  test("table_changes over /sql serves the row-level feed; unanswerable windows are 409") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-cdf").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.enableCdf()
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))   // v1
    vt.delete(Seq(1L).toDF("id"), "id")                    // v2
    val feed = s"SELECT * FROM table_changes('$dir', 0) ORDER BY _commit_version, id"
    val res = sql(feed)
    assert(res.statusCode == 200, res.body)
    assert(res.body.contains(""""count":3"""), res.body) // 2 inserts + 1 delete
    assert(res.body.contains(""""_change_type":"delete""""), res.body)
    // paging: page size 2 hands back a next_offset, second page disjoint
    val p1 = sql(feed, """"limit":2""")
    assert(p1.body.contains(""""next_offset":2"""), p1.body)
    val p2 = sql(feed, """"limit":2,"offset":2""")
    assert(p2.body.contains(""""count":1""") && !p2.body.contains("next_offset"), p2.body)
    // an overwrite makes the window unanswerable: 409, re-read the snapshot
    vt.overwrite(Seq((9L, "z")).toDF("id", "v"))           // v3
    val conflict = sql(s"SELECT * FROM table_changes('$dir', 2)")
    assert(conflict.statusCode == 409, s"${conflict.statusCode}: ${conflict.body}")
    // a missing since is a client fault
    val bad = sql(s"SELECT * FROM table_changes('$dir')")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")
  }

  test("DELETE FROM a backtick-quoted path over /sql commits a version") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-del").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "keep"), (2L, "old"), (3L, "old")).toDF("id", "v"))
    val res = sql(s"DELETE FROM `$dir` WHERE id >= 2")
    assert(res.statusCode == 200, res.body)
    assert(res.body == """{"rows":[{"version":2}],"count":1,"offset":0}""", res.body)
    assert(vt.read().collect().map(_.getLong(0)).toSeq == Seq(1L))
    // history still has the pre-delete snapshot
    assert(vt.read(1).count() == 3)
    // a bad predicate is a client fault, not a 500
    val bad = sql(s"DELETE FROM `$dir` WHERE no_such_col > 1")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")
  }

  test("UPDATE a backtick-quoted path over /sql; POST /constraints reports checks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-upd").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, 5.0), (2L, -3.0), (3L, 7.0)).toDF("id", "price"))
    val res = sql(s"UPDATE `$dir` SET price = 0.0 - price WHERE price < 0")
    assert(res.statusCode == 200, res.body)
    assert(res.body == """{"rows":[{"version":2}],"count":1,"offset":0}""", res.body)
    assert(vt.read().filter($"id" === 2L).head().getDouble(1) == 3.0)
    // an UPDATE with no SET clause is a 400
    val bad = sql(s"UPDATE `$dir` WHERE id = 1")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")

    post("/register",
      s"""{"name":"http_cons_orders","format":"parquet","path":"${TestSpark.sfDir}/orders.parquet"}""")
    val cons = post("/constraints",
      """{"table":"http_cons_orders","checks":[
        |{"name":"price_positive","violation":"o_totalprice <= 0"},
        |{"name":"status_known","violation":"o_orderstatus NOT IN ('F','O','P')"}]}""".stripMargin)
    assert(cons.statusCode == 200, cons.body)
    assert(cons.body.contains(""""constraint_name":"price_positive"""") &&
      cons.body.contains(""""n_violations":0""") &&
      cons.body.contains(""""count":2"""), cons.body)
  }

  test("POST /profile returns a per-column profile of a registered table") {
    post("/register",
      s"""{"name":"http_prof_nation","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    val res = post("/profile", """{"table":"http_prof_nation"}""")
    assert(res.statusCode == 200, res.body)
    // one row per column, approx (single-pass) by default
    assert(res.body.contains(""""count":3""") &&
      res.body.contains(""""approx":true"""), res.body)
    assert(res.body.contains(""""col_name":"n_name"""), res.body)
    // exact mode opt-in: nation keys are unique, so exact ndv == rows
    val exact = post("/profile",
      """{"table":"http_prof_nation","approx":false}""")
    assert(exact.statusCode == 200 && exact.body.contains(""""approx":false"""),
      exact.body)
    assert(exact.body.contains(""""col_name":"n_nationkey","n_rows":25,"n_nulls":0,"n_distinct":25"""),
      exact.body)
    // unknown table is a client fault (analysis), not a 500
    val bad = post("/profile", """{"table":"no_such_table_xyz"}""")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")
  }

  test("POST /profile answers vtable tables from metadata, zero data scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-pmeta").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    // NDV on EVERY column is the coverage requirement for the fast path
    vt.enableNdv(Seq("id", "lang"))
    vt.append(Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, null: String))
      .toDF("id", "lang").coalesce(1))
    post("/register", s"""{"name":"http_prof_vt","format":"vtable","path":"$dir"}""")
    val res = post("/profile", """{"table":"http_prof_vt"}""")
    assert(res.statusCode == 200, res.body)
    assert(res.body.contains(""""source":"metadata""""), res.body)
    // exact rows/nulls from the manifest; HLL is exact at these sizes
    assert(res.body.contains(""""col_name":"id","n_rows":4,"n_nulls":0,"n_distinct":4"""),
      res.body)
    assert(res.body.contains(""""col_name":"lang","n_rows":4,"n_nulls":1,"n_distinct":2"""),
      res.body)
    // numeric bounds served exactly; string bounds withheld (may be
    // truncated in the manifest), never served wrong
    assert(res.body.contains(""""min_val":"1","max_val":"4""""), res.body)
    assert(res.body.contains(""""min_val":null,"max_val":null"""), res.body)
    // a parquet-registered table has no manifest: the scanning path
    post("/register",
      s"""{"name":"http_prof_scan","format":"parquet","path":"${TestSpark.sfDir}/region.parquet"}""")
    val scan = post("/profile", """{"table":"http_prof_scan"}""")
    assert(scan.statusCode == 200 && scan.body.contains(""""source":"scan""""), scan.body)
    // partial NDV coverage falls back to scanning rather than serving
    // an incomplete profile
    val dir2 = java.nio.file.Files.createTempDirectory("graft-http-pmeta2").toString + "/t"
    val vt2 = graft.sources.VersionedTable(spark, dir2)
    vt2.enableNdv(Seq("id"))
    vt2.append(Seq((1L, "x")).toDF("id", "lang").coalesce(1))
    post("/register", s"""{"name":"http_prof_vt2","format":"vtable","path":"$dir2"}""")
    val partial = post("/profile", """{"table":"http_prof_vt2"}""")
    assert(partial.statusCode == 200 && partial.body.contains(""""source":"scan""""),
      partial.body)
  }

  test("GET /metrics reports per-endpoint traffic and error classes") {
    val r1 = post("/sql", """{"query":"SELECT 1 AS one"}""")
    assert(r1.statusCode == 200)
    val bad = post("/sql", """{"query":"SELECT FROM nope"}""")
    assert(bad.statusCode == 400)
    val res = get("/metrics")
    assert(res.statusCode == 200, res.body)
    val body = res.body
    assert(body.contains(""""uptime_ms":"""), body)
    assert(body.contains(""""in_flight":"""), body)
    assert(body.contains(""""/sql":{"requests":"""), body)
    // the /sql row must have counted at least one client error
    val sqlRow = body.substring(body.indexOf(""""/sql":"""))
    val clientErrs = """"client_errors":(\d+)""".r
      .findFirstMatchIn(sqlRow).map(_.group(1).toLong)
    assert(clientErrs.exists(_ >= 1), sqlRow.take(120))
    assert(post("/metrics", "{}").statusCode == 405)
  }

  test("ALTER TABLE on a backtick-quoted path evolves columns over /sql; conflicts are 400") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-ren").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val res = sql(s"ALTER TABLE `$dir` RENAME COLUMN id TO doc_id")
    assert(res.statusCode == 200, res.body)
    assert(res.body.contains(""""version":2"""), res.body)
    assert(vt.read().columns.toSeq == Seq("doc_id", "v"))
    // renaming onto an existing column is a client fault, not a 500
    val bad = sql(s"ALTER TABLE `$dir` RENAME COLUMN doc_id TO v")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")
    // drop: metadata-only commit
    val drop = sql(s"ALTER TABLE `$dir` DROP COLUMN v")
    assert(drop.statusCode == 200, drop.body)
    assert(drop.body.contains(""""version":3"""), drop.body)
    assert(vt.read().columns.toSeq == Seq("doc_id"))
    // dropping the last column is a client fault
    val last = sql(s"ALTER TABLE `$dir` DROP COLUMN doc_id")
    assert(last.statusCode == 400, s"${last.statusCode}: ${last.body}")
    // add: a nullable column every existing row reads as NULL
    val add = sql(s"ALTER TABLE `$dir` ADD COLUMN note STRING")
    assert(add.statusCode == 200 && add.body.contains(""""version":4"""), add.body)
    assert(vt.read().columns.toSeq == Seq("doc_id", "note"))
  }

  test("POST /apply lands a mixed CDC batch as one commit over HTTP") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-apply").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // the change batch arrives as a registered view (the service's
    // table namespace), keyed by a custom sequence column
    Seq((2L, "B", "update_postimage", 1L), (3L, "c", "delete", 1L),
      (4L, "d", "insert", 1L))
      .toDF("id", "v", graft.sources.VersionedTable.ChangeTypeCol, "seq")
      .createOrReplaceTempView("http_changes")
    val res = post("/apply",
      s"""{"path":"$dir","changes":"http_changes","key":"id","orderBy":"seq"}""")
    assert(res.statusCode == 200, res.body)
    assert(res.body.contains(""""applied_as_version":2"""), res.body)
    assert(vt.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "B"), (4L, "d")))
    // a batch with null keys is a client fault, not a 500
    Seq((null.asInstanceOf[java.lang.Long], "x", "insert", 1L))
      .toDF("id", "v", graft.sources.VersionedTable.ChangeTypeCol, "seq")
      .createOrReplaceTempView("http_changes_bad")
    val bad = post("/apply",
      s"""{"path":"$dir","changes":"http_changes_bad","key":"id","orderBy":"seq"}""")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")
  }

  test("RESTORE a quoted path over /sql rolls a vtable back; a bad version is a 400") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-rest").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, "a")).toDF("id", "v"))
    vt.overwrite(Seq((2L, "b")).toDF("id", "v"))
    val res = sql(s"RESTORE '$dir' TO VERSION AS OF 1")
    assert(res.statusCode == 200 &&
      res.body == """{"rows":[{"version":3}],"count":1,"offset":0}""", res.body)
    assert(vt.read().collect().map(_.getLong(0)).sameElements(Array(1L)))
    val bad = sql(s"RESTORE '$dir' TO VERSION AS OF 99")
    assert(bad.statusCode == 400, s"${bad.statusCode}: ${bad.body}")
    val missing = sql(s"RESTORE '$dir'")
    assert(missing.statusCode == 400, s"${missing.statusCode}: ${missing.body}")
  }

  test("vtables have no path-keyed routes: /sql is the one way to address them") {
    Seq("/history", "/describe", "/changes", "/delete", "/update", "/rename",
      "/drop-column", "/add-column", "/branch", "/tag", "/merge-branch", "/diff",
      "/restore").foreach { path =>
      val res = post(path, """{"path":"/tmp/definitely-not-a-table-xyz"}""")
      assert(res.statusCode == 404, s"$path: ${res.statusCode} ${res.body}")
    }
  }

  test("malformed requests get a 400 with an error payload, bad methods a 405") {
    val badSql = post("/sql", """{"query":"SELECT FROM nope"}""")
    assert(badSql.statusCode == 400 && badSql.body.contains("\"error\""), badSql.body)
    val missing = post("/sql", """{"limit":5}""")
    assert(missing.statusCode == 400 && missing.body.contains("missing field"), missing.body)
    val wrongMethod = get("/sql")
    assert(wrongMethod.statusCode == 405, wrongMethod.body)
  }

  test("SQL MERGE/UPDATE/DELETE text at POST /sql lands on the versioned table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-sqldml").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"))
    vt.scan().createOrReplaceTempView("http_sqldml")
    Seq((3L, 300.0), (4L, 400.0)).toDF("k", "v")
      .createOrReplaceTempView("http_sqldml_src")
    val m = post("/sql", """{"query":"MERGE INTO http_sqldml t USING http_sqldml_src s ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"}""")
    assert(m.statusCode == 200 && m.body.contains(""""version":2"""), m.body)
    val d = post("/sql", """{"query":"DELETE FROM http_sqldml WHERE k = 1"}""")
    assert(d.statusCode == 200 && d.body.contains(""""version":3"""), d.body)
    assert(vt.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((2L, 20.0), (3L, 300.0), (4L, 400.0)))
    // read-your-writes through the same /sql surface
    val sel = post("/sql",
      """{"query":"SELECT count(*) AS n FROM http_sqldml"}""")
    assert(sel.statusCode == 200 && sel.body.contains(""""n":3"""), sel.body)
    // an unsupported MERGE shape (non-equality ON) is a descriptive
    // client fault; clause-conditioned shapes execute via the general
    // lowering and are covered in SqlDmlSpec
    val bad = post("/sql", """{"query":"MERGE INTO http_sqldml t USING http_sqldml_src s ON t.k < s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"}""")
    assert(bad.statusCode == 400 && bad.body.contains("key equality"), bad.body)
    // INSERT and the maintenance verbs ride the same surface
    val ins = post("/sql", """{"query":"INSERT INTO http_sqldml VALUES (9, 9.0)"}""")
    assert(ins.statusCode == 200 && ins.body.contains(""""version":4"""), ins.body)
    assert(vt.read().count() == 4)
    val hist = post("/sql", """{"query":"DESCRIBE HISTORY http_sqldml","limit":10}""")
    assert(hist.statusCode == 200 && hist.body.contains(""""count":4"""), hist.body)
    val vac = post("/sql", """{"query":"VACUUM http_sqldml RETAIN 1 VERSIONS"}""")
    assert(vac.statusCode == 200 && vac.body.contains("deleted_files"), vac.body)
  }

  test("a registryDir-backed catalog survives a service restart") {
    def postTo(h: HttpQueryService, path: String, body: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${h.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    def getTo(h: HttpQueryService, path: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${h.boundPort}$path"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
    val regDir = java.nio.file.Files.createTempDirectory("graft-http-registry").toString
    // first incarnation: register a source and publish a view over it
    val h1 = new HttpQueryService(
      new QueryService(spark.newSession(), Some(regDir)), port = 0).start()
    try {
      assert(postTo(h1, "/register",
        s"""{"name":"reg_nation","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
        .statusCode == 200)
      assert(postTo(h1, "/submit",
        """{"name":"reg_view","query":"SELECT n_regionkey, count(*) AS n FROM reg_nation GROUP BY n_regionkey"}""")
        .statusCode == 200)
      // a COMMAND submitted as a "view" registers live but is NOT
      // recorded — replay must never re-execute a side-effecting
      // statement on restart
      assert(postTo(h1, "/submit",
        """{"name":"cmd_view","query":"SET spark.sql.shuffle.partitions=4"}""")
        .statusCode == 200)
    } finally h1.stop()
    // "restart": a FRESH session (temp views are gone) + fresh service
    // over the same registry — both definitions must replay, in order
    // (the view references the source)
    val h2 = new HttpQueryService(
      new QueryService(spark.newSession(), Some(regDir)), port = 0).start()
    try {
      val tables = getTo(h2, "/tables").body
      assert(tables.contains("reg_nation") && tables.contains("reg_view"), tables)
      assert(!tables.contains("cmd_view"),
        s"command submissions must not replay: $tables")
      val res = postTo(h2, "/sql",
        """{"query":"SELECT sum(n) AS total FROM reg_view"}""")
      assert(res.statusCode == 200 && res.body.contains("\"total\":25"), res.body)
    } finally h2.stop()
    // a stale entry (its files deleted) is skipped with a note — one
    // dead table must not take the whole service down
    val gone = java.nio.file.Files.createTempDirectory("graft-reg-gone")
    spark.range(3).toDF("k").write.mode("overwrite").parquet(gone.toString)
    val h3 = new HttpQueryService(
      new QueryService(spark.newSession(), Some(regDir)), port = 0).start()
    try {
      assert(postTo(h3, "/register",
        s"""{"name":"reg_gone","format":"parquet","path":"$gone"}""").statusCode == 200)
    } finally h3.stop()
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(gone.toFile)
    val h4 = new HttpQueryService(
      new QueryService(spark.newSession(), Some(regDir)), port = 0).start()
    try {
      val tables = getTo(h4, "/tables").body
      assert(tables.contains("reg_nation") && !tables.contains("reg_gone"), tables)
      // /unregister drops the live view AND the durable definition
      val un = postTo(h4, "/unregister", """{"name":"reg_view"}""")
      assert(un.statusCode == 200 && un.body.contains("\"existed\":true"), un.body)
      assert(!getTo(h4, "/tables").body.contains("reg_view"))
    } finally h4.stop()
    // an unregistered name must NOT resurrect on the next restart
    val h5 = new HttpQueryService(
      new QueryService(spark.newSession(), Some(regDir)), port = 0).start()
    try {
      val tables = getTo(h5, "/tables").body
      assert(tables.contains("reg_nation") && !tables.contains("reg_view"), tables)
    } finally h5.stop()
  }

  test("X-Graft-Session isolates one client's SQL conf from another's live results") {
    val h = new HttpQueryService(
      new QueryService(spark.newSession()), port = 0).start()
    try {
      def sqlAs(sess: Option[String], q: String): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${h.boundPort}/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"query":"$q"}"""))
        sess.foreach(s => b.header("X-Graft-Session", s))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      val probe = "SELECT CAST('oops' AS INT) AS v"
      // default sessions run ANSI (Spark 4): the bad cast is a runtime
      // error — 500, execution-class
      assert(sqlAs(None, probe).statusCode == 500)
      // client A turns ANSI off IN ITS OWN SESSION (SET is a mutation
      // verb, but this service is unauthenticated — dev posture)
      assert(sqlAs(Some("a"), "SET spark.sql.ansi.enabled=false").statusCode == 200)
      val a = sqlAs(Some("a"), probe)
      assert(a.statusCode == 200 && a.body.contains("\"v\":null"), a.body)
      // client B and the headerless shared session still run ANSI —
      // the LIVE path, not a cache artifact (no cache opt-in here)
      assert(sqlAs(Some("b"), probe).statusCode == 500)
      assert(sqlAs(None, probe).statusCode == 500)
      // a view submitted by A is visible to the NEXT new session (the
      // shared-registry seeding) ...
      val sub = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.boundPort}/submit"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name":"sess_view","query":"SELECT 42 AS answer"}"""))
        .header("X-Graft-Session", "a").build()
      assert(client.send(sub, HttpResponse.BodyHandlers.ofString()).statusCode == 200)
      val c = sqlAs(Some("c"), "SELECT answer FROM sess_view")
      assert(c.statusCode == 200 && c.body.contains("\"answer\":42"), c.body)
      // ... and session ids are BOUNDED: default cap is 32, and a
      // flood of fresh ids is refused rather than leaking sessions
      val over = (3 until 40).map(i => sqlAs(Some(s"flood-$i"), "SELECT 1 AS one"))
      assert(over.exists(_.statusCode == 400),
        "session flood must hit the cap with a 400")
      // /drop-session frees a slot: retire one flood id, a fresh id fits
      val drop = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.boundPort}/drop-session"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"id":"flood-3"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(drop.statusCode == 200 && drop.body.contains("\"existed\":true"), drop.body)
      assert(sqlAs(Some("after-drop"), "SELECT 1 AS one").statusCode == 200)
      // /sessions lists the live ids an operator would pick from
      val listing = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.boundPort}/sessions")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(listing.statusCode == 200 && listing.body.contains("\"after-drop\"") &&
        !listing.body.contains("\"flood-3\""), listing.body)
    } finally h.stop()
  }

  test("an idle session expires and frees its slot; a touched one survives") {
    // a small cap keeps the fill phase well inside the idle horizon
    // (32 isolated-session creations would outlast any test-sized one)
    val h = new HttpQueryService(
      new QueryService(spark.newSession()), port = 0,
      sessionIdleMs = 8000L, maxSessions = 3).start()
    try {
      def sqlAs(sess: String, q: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${h.boundPort}/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"query":"$q"}"""))
          .header("X-Graft-Session", sess).build(),
          HttpResponse.BodyHandlers.ofString())
      // fill every slot
      (0 until 3).foreach(i =>
        assert(sqlAs(s"idle-$i", "SELECT 1 AS one").statusCode == 200))
      assert(sqlAs("overflow", "SELECT 1 AS one").statusCode == 400,
        "premise: the cap must be reached")
      // age everything past the idle horizon, then KEEP ONE ALIVE —
      // expiry must free the abandoned slots, not the touched survivor
      Thread.sleep(8500)
      assert(sqlAs("idle-1", "SELECT 1 AS one").statusCode == 200)
      assert(sqlAs("fresh-after-expiry", "SELECT 1 AS one").statusCode == 200,
        "an abandoned slot must be reclaimable without /drop-session")
      val listing = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.boundPort}/sessions")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(listing.body.contains("\"idle-1\"") &&
        listing.body.contains("\"fresh-after-expiry\"") &&
        !listing.body.contains("\"idle-0\""), listing.body)
    } finally h.stop()
  }

  test("idle expiry skips a session with a live query; completion restarts the clock") {
    val h = new HttpQueryService(
      new QueryService(spark.newSession()), port = 0,
      sessionIdleMs = 1500L, maxSessions = 4).start()
    try {
      def sqlAs(sess: String, q: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${h.boundPort}/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"query":"$q"}"""))
          .header("X-Graft-Session", sess).build(),
          HttpResponse.BodyHandlers.ofString())
      def sessionList(): String = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.boundPort}/sessions")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body
      // an async job that would run for minutes holds the "busy"
      // session's in-flight mark for its WHOLE lifetime — last-touch
      // is stamped at submit, so without the mark the session would
      // read as idle the moment the sleep below outlasts the horizon
      val submit = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.boundPort}/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query":"SELECT max(id) AS s FROM range(2000000000000)"}"""))
        .header("X-Graft-Session", "busy").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(submit.statusCode == 200, submit.body)
      val jobId = """"job":"([^"]+)"""".r.findFirstMatchIn(submit.body)
        .map(_.group(1)).getOrElse(fail(s"no job id in ${submit.body}"))
      Thread.sleep(1800)
      // a fresh session-create triggers expiry — the busy session must
      // survive it mid-query, caches intact
      assert(sqlAs("fresh", "SELECT 1 AS one").statusCode == 200)
      assert(sessionList().contains("\"busy\""),
        "a session with a live async job must not expire: " + sessionList())
      // cancel → terminal state → onComplete releases the mark AND
      // re-stamps last-touch: the idle clock starts at completion
      assert(client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${h.boundPort}/query/$jobId/cancel"))
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode == 200)
      val deadline = System.currentTimeMillis + 30000
      var st = ""
      while (st != "failed" && System.currentTimeMillis < deadline) {
        Thread.sleep(100)
        st = client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${h.boundPort}/query/$jobId")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body match {
          case b if b.contains("\"failed\"") => "failed"
          case _ => "running"
        }
      }
      assert(st == "failed", "cancelled job must reach a terminal state")
      // now idle for real: the next expiry wave reclaims it
      Thread.sleep(1800)
      assert(sqlAs("fresh2", "SELECT 1 AS one").statusCode == 200)
      assert(!sessionList().contains("\"busy\""),
        "a completed-then-idle session must expire: " + sessionList())
    } finally h.stop()
  }

  test("branch lifecycle and table_diff paging over /sql by quoted path; auth gates the mutations") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-branch").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.enableCdf()
    vt.append((1L to 6L).map(i => (i, i * 10.0)).toDF("k", "v"))
    // create → edit through the API → merge (dropping the branch) → diff
    val created = sql(s"ALTER TABLE '$dir' CREATE BRANCH dev")
    assert(created.statusCode == 200 && created.body.contains(
      """"rows":[{"branch":"dev","fork_version":1}]"""), created.body)
    vt.branch("dev").updateWhere(
      org.apache.spark.sql.functions.col("k") === 2L,
      Map("v" -> org.apache.spark.sql.functions.lit(99.0)))
    val merged = sql(s"ALTER TABLE '$dir' MERGE BRANCH dev KEY k DROP")
    assert(merged.statusCode == 200 &&
      merged.body.contains(""""rows":[{"version":2}]"""), merged.body)
    assert(vt.branchNames.isEmpty && vt.read()
      .filter(org.apache.spark.sql.functions.col("k") === 2L).head().getDouble(1) == 99.0)
    // the merge commit carries provenance in the history's op params
    val hist = sql(s"DESCRIBE HISTORY '$dir'", """"limit":1""")
    assert(hist.statusCode == 200 && hist.body.contains("merge_branch") &&
      hist.body.contains("branchSource"), hist.body)
    // table_diff pages the retroactive snapshot diff
    val diffSql = s"SELECT * FROM table_diff('$dir', 1, 2, 'k') ORDER BY k, _change_type"
    val diff = sql(diffSql)
    assert(diff.statusCode == 200 && diff.body.contains(""""count":2""") &&
      diff.body.contains("update_preimage") &&
      diff.body.contains("update_postimage"), diff.body)
    val page = sql(diffSql, """"limit":1""")
    assert(page.statusCode == 200 && page.body.contains(""""next_offset":1"""), page.body)
    // dropping a non-existent branch reports false, not an error
    val gone = sql(s"ALTER TABLE '$dir' DROP BRANCH dev")
    assert(gone.statusCode == 200 &&
      gone.body.contains(""""rows":[{"dropped":false}]"""), gone.body)
    // bad input is a 400, not a 500
    assert(sql(s"SELECT * FROM table_diff('$dir', 'k')").statusCode == 400)
    // with a token configured, the branch statements are mutations
    // (401 without/with-wrong token); table_diff stays a read
    val locked = new HttpQueryService(service, port = 0,
      authToken = Some("sesame")).start()
    try {
      def send(query: String, token: Option[String]) = {
        val b = HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:${locked.boundPort}/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"query":${jsonStr(query)}}"""))
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(send(s"ALTER TABLE '$dir' CREATE BRANCH x", None).statusCode == 401)
      assert(send(s"ALTER TABLE '$dir' CREATE BRANCH x", Some("wrong")).statusCode == 401)
      assert(vt.branchNames.isEmpty, "unauthorized branch create must not land")
      assert(send(s"ALTER TABLE '$dir' MERGE BRANCH x KEY k", None).statusCode == 401)
      assert(send(diffSql, None).statusCode == 200)
      assert(send(s"ALTER TABLE '$dir' CREATE BRANCH x", Some("sesame")).statusCode == 200)
      assert(send(s"ALTER TABLE '$dir' DROP BRANCH x", Some("sesame")).statusCode == 200)
    } finally locked.stop()
  }

  test("tag lifecycle and roster over /sql by quoted path: immutable pins, escaped messages") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-tag").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.append((1L to 4L).map(i => (i, i * 10.0)).toDF("k", "v"))
    val created = sql(s"ALTER TABLE '$dir' CREATE TAG rel1")
    assert(created.statusCode == 200 && created.body.contains(
      """"rows":[{"tag":"rel1","version":1}]"""), created.body)
    vt.append(Seq((9L, 90.0)).toDF("k", "v"))
    val v2 = sql(s"ALTER TABLE '$dir' CREATE TAG rel2 VERSION AS OF 2")
    assert(v2.statusCode == 200 && v2.body.contains("\"version\":2"), v2.body)
    // immutability: re-creating an existing tag is a 400
    assert(sql(s"ALTER TABLE '$dir' CREATE TAG rel1").statusCode == 400)
    val roster = sql(s"DESCRIBE TAGS '$dir'")
    assert(roster.statusCode == 200 && roster.body.contains(""""count":2""") &&
      roster.body.contains(""""tag":"rel1","version":1"""), roster.body)
    // a free-text message rides the pin and serves JSON-escaped
    val withMsg = sql(
      s"""ALTER TABLE '$dir' CREATE TAG rel3 VERSION AS OF 1 COMMENT 'the "blessed" cut'""")
    assert(withMsg.statusCode == 200, withMsg.body)
    val roster3 = sql(s"DESCRIBE TAGS '$dir'")
    assert(roster3.body.contains(""""message":"the \"blessed\" cut""""),
      roster3.body)
    val dropped = sql(s"ALTER TABLE '$dir' DROP TAG rel1")
    assert(dropped.statusCode == 200 &&
      dropped.body.contains(""""rows":[{"dropped":true}]"""), dropped.body)
    val again = sql(s"ALTER TABLE '$dir' DROP TAG rel1")
    assert(again.statusCode == 200 &&
      again.body.contains(""""rows":[{"dropped":false}]"""), again.body)
  }

  test("a configured bearer token refuses unauthorized mutations, 401 counted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-http-auth").toString + "/t"
    val vt = graft.sources.VersionedTable(spark, dir)
    vt.enableCdf()
    vt.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    vt.scan().createOrReplaceTempView("http_auth_t")
    val locked = new HttpQueryService(service, port = 0,
      authToken = Some("sesame")).start()
    try {
      var sqlAuthFailures = 0
      def send(path: String, body: String, token: Option[String]) = {
        val b = HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:${locked.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        val res = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
        if (path == "/sql" && res.statusCode == 401) sqlAuthFailures += 1
        res
      }
      def sqlAs(query: String, token: Option[String]) =
        send("/sql", s"""{"query":${jsonStr(query)}}""", token)
      // a path-addressed statement without / with wrong / with right token
      assert(sqlAs(s"DELETE FROM `$dir` WHERE id = 1", None).statusCode == 401)
      assert(sqlAs(s"DELETE FROM `$dir` WHERE id = 1", Some("wrong")).statusCode == 401)
      assert(vt.read().count() == 2, "unauthorized delete must not land")
      assert(sqlAs(s"DELETE FROM `$dir` WHERE id = 1", Some("sesame")).statusCode == 200)
      assert(vt.read().count() == 1)
      // every other path-addressed mutation: 401 without or with a
      // wrong token, and nothing lands
      def state = (vt.currentVersion, vt.read().columns.toSeq, vt.branchNames,
        vt.tagNames, vt.read().collect().toSeq)
      Seq(s"UPDATE `$dir` SET v = 'z' WHERE id = 2",
        s"ALTER TABLE '$dir' CREATE BRANCH b1",
        s"ALTER TABLE '$dir' MERGE BRANCH b1 KEY id",
        s"ALTER TABLE '$dir' CREATE TAG pin0",
        s"ALTER TABLE `$dir` ADD COLUMN note STRING",
        s"ALTER TABLE `$dir` RENAME COLUMN v TO w",
        s"ALTER TABLE `$dir` DROP COLUMN v",
        s"RESTORE '$dir' TO VERSION AS OF 1").foreach { q =>
        val before = state
        assert(sqlAs(q, None).statusCode == 401, q)
        assert(sqlAs(q, Some("wrong")).statusCode == 401, q)
        assert(state == before, s"unauthorized '$q' must not land")
      }
      // the path-addressed reads stay open
      Seq(s"DESCRIBE TAGS '$dir'",
        s"SELECT * FROM table_diff('$dir', 1, 2, 'id')",
        s"SELECT * FROM table_changes('$dir', 0)").foreach { q =>
        val res = sqlAs(q, None)
        assert(res.statusCode == 200, s"$q: ${res.body}")
      }
      // /sql: reads open, mutating statements gated per-verb
      assert(send("/sql",
        """{"query":"SELECT count(*) AS n FROM http_auth_t"}""", None)
        .statusCode == 200)
      assert(send("/sql",
        """{"query":"DELETE FROM http_auth_t WHERE id = 2"}""", None)
        .statusCode == 401)
      assert(vt.read().count() == 1, "unauthorized SQL DELETE must not land")
      assert(send("/sql",
        """{"query":"DELETE FROM http_auth_t WHERE id = 2"}""", Some("sesame"))
        .statusCode == 200)
      assert(vt.read().count() == 0)
      // async plane honors the same per-statement gate
      assert(send("/query",
        """{"query":"CREATE TEMP VIEW http_auth_v AS SELECT 1"}""", None)
        .statusCode == 401)
      // maintenance verbs are mutations under the closed-world rule
      assert(send("/sql", s"""{"query":"VACUUM http_auth_t"}""", None)
        .statusCode == 401)
      assert(send("/sql", s"""{"query":"RESTORE http_auth_t TO VERSION AS OF 1"}""",
        None).statusCode == 401)
      // /register is a mutation
      assert(send("/register",
        s"""{"name":"http_auth_n","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""",
        None).statusCode == 401)
      // tag statements are mutations, the roster is a read
      assert(sqlAs(s"ALTER TABLE '$dir' CREATE TAG pin1", None).statusCode == 401)
      assert(vt.tagNames.isEmpty, "unauthorized tag create must not land")
      assert(sqlAs(s"ALTER TABLE '$dir' CREATE TAG pin1", Some("sesame"))
        .statusCode == 200)
      val tagRoster = sqlAs(s"DESCRIBE TAGS '$dir'", None)
      assert(tagRoster.statusCode == 200 && tagRoster.body.contains("pin1"),
        tagRoster.body)
      assert(sqlAs(s"ALTER TABLE '$dir' DROP TAG pin1", None).statusCode == 401)
      assert(vt.tagNames == Seq("pin1"), "unauthorized tag drop must not land")
      // a CTE header must not launder a write past the token: Spark's
      // grammar accepts WITH-led INSERT OVERWRITE DIRECTORY (a
      // filesystem write), and the classifier must see the verb
      // BEHIND the prologue
      val escapeDir = java.nio.file.Files
        .createTempDirectory("graft-http-auth-esc").toString
      assert(send("/sql",
        s"""{"query":"WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY '$escapeDir/out' USING parquet SELECT * FROM x"}""",
        None).statusCode == 401)
      assert(!new java.io.File(s"$escapeDir/out").exists,
        "unauthorized CTE-led directory write must not land")
      // FROM-led multi-insert is the same lexer gap from the other side
      assert(send("/sql",
        s"""{"query":"FROM http_auth_t INSERT OVERWRITE DIRECTORY '$escapeDir/out2' USING parquet SELECT *"}""",
        None).statusCode == 401)
      assert(!new java.io.File(s"$escapeDir/out2").exists)
      // Spark NESTS bracketed comments: to its lexer this whole header
      // is ONE comment and the statement is the write — a non-nesting
      // classifier would end the comment early, read SELECT, and wave
      // the write through
      assert(send("/sql",
        s"""{"query":"/* /* */ SELECT 1 */ INSERT OVERWRITE DIRECTORY '$escapeDir/out4' USING parquet SELECT 1 AS a"}""",
        None).statusCode == 401)
      assert(!new java.io.File(s"$escapeDir/out4").exists,
        "nested-comment header must not launder a write")
      // AS-less CTE (Spark's grammar makes AS optional) is still a
      // classified write...
      assert(send("/sql",
        s"""{"query":"WITH y (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY '$escapeDir/out5' USING parquet SELECT * FROM y"}""",
        None).statusCode == 401)
      assert(!new java.io.File(s"$escapeDir/out5").exists)
      // ...and an AS-less READ stays open
      assert(send("/sql",
        """{"query":"WITH y (SELECT 1 AS a) SELECT * FROM y"}""", None)
        .statusCode == 200)
      // a raw literal ends where Spark ends it: R'\' is complete, so
      // the prologue closes right before the directory write
      assert(sqlAs(raw"WITH x AS (SELECT '\''R'\'') SELECT 1 --') " +
        s"INSERT OVERWRITE DIRECTORY '$escapeDir/out6' USING parquet SELECT 1 AS a",
        None).statusCode == 401)
      assert(!new java.io.File(s"$escapeDir/out6").exists,
        "a raw-literal prologue must not launder a write")
      // while WITH-led and FROM-led READS stay open
      assert(send("/sql",
        """{"query":"WITH x AS (SELECT 1 AS a) SELECT * FROM x"}""", None)
        .statusCode == 200)
      assert(send("/sql",
        """{"query":"FROM http_auth_t SELECT count(*) AS n"}""", None)
        .statusCode == 200)
      // and a token lets the CTE-led write through (it is legal SQL)
      assert(send("/sql",
        s"""{"query":"WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY '$escapeDir/out3' USING parquet SELECT * FROM x"}""",
        Some("sesame")).statusCode == 200)
      assert(new java.io.File(s"$escapeDir/out3").exists)
      // 401s surface in their own metrics column
      val metrics = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${locked.boundPort}/metrics")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(metrics.statusCode == 200, metrics.body)
      val sqlAuth =
        """"/sql":\{[^}]*"auth_failures":(\d+)""".r
          .findFirstMatchIn(metrics.body).map(_.group(1).toInt)
      assert(sqlAuth.contains(sqlAuthFailures), metrics.body)
    } finally locked.stop()
  }

  test("authReads extends the token to every endpoint except /cancel") {
    val locked = new HttpQueryService(service, port = 0,
      authToken = Some("sesame"), authReads = true).start()
    try {
      def send(path: String, body: String, token: Option[String]) = {
        val b = HttpRequest
          .newBuilder(URI.create(s"http://127.0.0.1:${locked.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(send("/sql", """{"query":"SELECT 1 AS one"}""", None).statusCode == 401)
      assert(send("/sql", """{"query":"SELECT 1 AS one"}""", Some("sesame"))
        .statusCode == 200)
      val tables = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${locked.boundPort}/tables")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(tables.statusCode == 401, tables.body)
      // /metrics follows authReads like /sessions and /cachestats —
      // the documented observability-exposure decision: session count
      // and per-endpoint counters are information an operator who
      // locked reads down chose not to serve anonymously
      def metrics(token: Option[String]) = {
        val b = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${locked.boundPort}/metrics")).GET()
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(metrics(None).statusCode == 401)
      val m = metrics(Some("sesame"))
      assert(m.statusCode == 200 && m.body.contains("\"sessions\""), m.body)
      // the emergency lever stays open
      assert(send("/cancel", """{"tag":"nope"}""", None).statusCode == 200)
    } finally locked.stop()
  }

  test("creating a session id is token-gated when a token is configured; existing ids are not") {
    // authReads = false: reads are open — but a FRESH client-chosen
    // session id claims one of the bounded slots, so creation demands
    // the token (otherwise any local client could fill all slots with
    // throwaway X-Graft-Session headers and 400 every legitimate one)
    val locked = new HttpQueryService(new QueryService(spark.newSession()),
      port = 0, authToken = Some("sesame")).start()
    try {
      def sqlAs(sess: String, token: Option[String]): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${locked.boundPort}/sql"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"query":"SELECT 1 AS one"}"""))
          .header("X-Graft-Session", sess)
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(sqlAs("slotgrab", None).statusCode == 401,
        "an unauthenticated read must not create a new session id")
      assert(sqlAs("slotgrab", Some("sesame")).statusCode == 200)
      // the id now exists: reads through it stay open (authReads off)
      assert(sqlAs("slotgrab", None).statusCode == 200)
    } finally locked.stop()
  }

  test("dropping a session releases the tables it cached") {
    // unit surface: releaseCaches frees the shared CacheManager
    // entries this session created
    val iso = service.newIsolated()
    iso.spark.sql("SELECT 11 AS x").createOrReplaceTempView("rel_cache_v")
    iso.cache("rel_cache_v")
    assert(iso.spark.catalog.isCached("rel_cache_v"))
    iso.releaseCaches()
    assert(!iso.spark.catalog.isCached("rel_cache_v"),
      "releaseCaches must uncache what the session cached")
    // wire surface: /cache inside a session, /drop-session, then the
    // same id re-creates and re-caches cleanly (the drop released the
    // old entry rather than stacking a new persisted plan on it)
    def as(sess: String, path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${http.boundPort}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("X-Graft-Session", sess).build(),
        HttpResponse.BodyHandlers.ofString())
    assert(as("cz", "/submit",
      """{"name":"drop_cache_v","query":"SELECT 7 AS seven"}""").statusCode == 200)
    assert(as("cz", "/cache", """{"name":"drop_cache_v"}""").statusCode == 200)
    assert(post("/drop-session", """{"id":"cz"}""").statusCode == 200)
    assert(as("cz", "/cache", """{"name":"drop_cache_v"}""").statusCode == 200)
    assert(post("/drop-session", """{"id":"cz"}""").statusCode == 200)
  }

  test("dropping one session never evicts a same-named cache another still holds") {
    // cached plans live in the SparkContext-SHARED CacheManager, so
    // release is hold-counted: the LAST holder's release evicts
    val a = service.newIsolated()
    val b = service.newIsolated()
    a.spark.sql("SELECT 1 AS x").createOrReplaceTempView("refc_v")
    b.spark.sql("SELECT 1 AS x").createOrReplaceTempView("refc_v")
    a.cache("refc_v")
    b.cache("refc_v")
    a.releaseCaches()
    assert(b.spark.catalog.isCached("refc_v"),
      "dropping session A must not evict B's live cache of the same name")
    // an explicit /uncache from a NON-holder defers to the holder too
    val c = service.newIsolated()
    c.spark.sql("SELECT 1 AS x").createOrReplaceTempView("refc_v")
    c.uncache("refc_v")
    assert(b.spark.catalog.isCached("refc_v"),
      "a non-holder's uncache must not evict the holder's cache")
    b.releaseCaches()
    assert(!b.spark.catalog.isCached("refc_v"),
      "the last holder's release evicts")
  }

  test("POST /export lands an over-page result as a vtable; /sql pages it back") {
    post("/register",
      s"""{"name":"http_li_exp","format":"parquet","path":"${TestSpark.sfDir}/lineitem.parquet"}""")
    val direct = service
      .sql("SELECT count(*) AS n FROM http_li_exp").collect().head.getLong(0)
    assert(direct > 1000, s"need an over-page corpus, got $direct rows")
    val dir = java.nio.file.Files.createTempDirectory("graft-exp-http")
      .toString + "/t"
    val r = post("/export",
      s"""{"name":"exp_li","location":"$dir","query":"SELECT l_orderkey, l_linenumber, l_quantity FROM http_li_exp"}""")
    assert(r.statusCode == 200, r.body)
    assert(r.body.contains("\"exported\":\"exp_li\"") &&
      r.body.contains("\"version\":1") &&
      r.body.contains(s""""rows":$direct"""), r.body)
    // the response never carried rows; they page back through /sql over
    // the registered vtable view
    val page = post("/sql",
      """{"query":"SELECT l_orderkey, l_linenumber FROM exp_li ORDER BY l_orderkey, l_linenumber","limit":1000}""")
    assert(page.statusCode == 200 && page.body.contains("\"count\":1000") &&
      page.body.contains("\"next_offset\":1000"), page.body.take(300))
    val n = post("/sql", """{"query":"SELECT count(*) AS n FROM exp_li"}""")
    assert(n.statusCode == 200 && n.body.contains(s""""n":$direct"""), n.body)
    // landed CONTENT equals the direct result, not just its count
    val direct9 = service.sql(
      "SELECT count(*) AS n FROM http_li_exp WHERE l_orderkey % 10 = 9")
      .collect().head.getLong(0)
    val back9 = post("/sql",
      """{"query":"SELECT count(*) AS n FROM exp_li WHERE l_orderkey % 10 = 9"}""")
    assert(back9.body.contains(s""""n":$direct9"""), back9.body)
    // the injection boundary: non-identifier names and quoted
    // locations refuse as client faults
    assert(post("/export",
      s"""{"name":"bad name; drop","location":"$dir-2","query":"SELECT 1 AS x"}""")
      .statusCode == 400)
    assert(post("/export",
      """{"name":"exp_ok","location":"relative/path","query":"SELECT 1 AS x"}""")
      .statusCode == 400)
  }

  test("timeout_ms bounds a runaway statement: 500 at the bound, jobs killed, counted") {
    def timeouts(): Long =
      """"timeouts":(\d+)""".r.findFirstMatchIn(get("/metrics").body)
        .get.group(1).toLong
    val before = timeouts()
    // lazy range: runs for minutes on its own, so only the watchdog's
    // job-group cancel can explain a prompt 500
    val t0 = System.nanoTime()
    val r = post("/sql",
      """{"query":"SELECT max(id) AS s FROM range(2000000000000)","tag":"slowpoke","timeout_ms":1500}""")
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(r.statusCode == 500 && r.body.contains("timeout_ms"),
      s"${r.statusCode} ${r.body}")
    assert(elapsedMs >= 1000, s"timed out suspiciously early: $elapsedMs ms")
    // its jobs are KILLED, not orphaned: every job in the tagged group
    // leaves RUNNING promptly after the response
    val sc = spark.sparkContext
    def anyRunning = sc.statusTracker.getJobIdsForGroup("graft-http-slowpoke")
      .exists(id => sc.statusTracker.getJobInfo(id)
        .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    val deadline = System.currentTimeMillis + 30000
    while (anyRunning && System.currentTimeMillis < deadline) Thread.sleep(50)
    assert(!anyRunning, "timed-out statement left running jobs behind")
    assert(timeouts() == before + 1, "metrics did not count the timeout")
    // a statement that finishes inside its bound is untouched
    val ok = post("/sql",
      """{"query":"SELECT 1 AS one","timeout_ms":60000}""")
    assert(ok.statusCode == 200 && ok.body.contains("\"one\":1"), ok.body)
    assert(timeouts() == before + 1)
  }

  test("a tag whose statement timed out is not poisoned: the next request with it completes") {
    val slow = post("/sql",
      """{"query":"SELECT max(id) AS s FROM range(2000000000000)","tag":"reused","timeout_ms":1500}""")
    assert(slow.statusCode == 500 && slow.body.contains("timeout_ms"), s"${slow.statusCode} ${slow.body}")
    // a job-starting statement (not literal-only) under the same tag
    val next = post("/sql", """{"query":"SELECT max(id) AS s FROM range(1000)","tag":"reused"}""")
    assert(next.statusCode == 200 && next.body.contains("\"s\":999"), s"${next.statusCode} ${next.body}")
  }

  test("POST /query reads the /sql request fields: named and positional args bind alike, offset pages") {
    post("/register",
      s"""{"name":"http_query_fields","format":"parquet","path":"${TestSpark.sfDir}/nation.parquet"}""")
    def job(body: String): String = {
      val sub = post("/query", body)
      assert(sub.statusCode == 200, sub.body)
      val id = """"job":"([^"]+)"""".r.findFirstMatchIn(sub.body).get.group(1)
      val deadline = System.currentTimeMillis + 30000
      var st = get(s"/query/$id").body
      while (!st.contains("\"done\"") && !st.contains("\"failed\"") &&
          System.currentTimeMillis < deadline) {
        Thread.sleep(50)
        st = get(s"/query/$id").body
      }
      assert(st.contains("\"done\""), st)
      get(s"/query/$id/result").body
    }
    val q = "SELECT n_name FROM http_query_fields WHERE n_nationkey IN (%s, %s) ORDER BY n_name"
    val named = job(s"""{"query":${jsonStr(q.format(":a", ":b"))},"args":{"a":3,"b":7}}""")
    val positional = job(s"""{"query":${jsonStr(q.format("?", "?"))},"args":[3,7]}""")
    assert(named.contains("\"count\":2") && named == positional, s"$named / $positional")
    // the same page the sync plane serves for the same binds
    val sync = sql(q.format("?", "?"), """"args":[3,7]""")
    assert(named.contains(sync.body.split("\"rows\":")(1).takeWhile(_ != ']')), s"$named / ${sync.body}")
    val paged = job(s"""{"query":${jsonStr(q.format("?", "?"))},"args":[3,7],"offset":1}""")
    assert(paged.contains("\"count\":1"), paged)
  }
}
