package perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

/** The JVM side of the benchmark (`perfbench/run.py` drives it).
  *
  *   serve <data_dir>
  *     Runs `graft.service.HttpServiceMain` on an ephemeral port (it
  *     prints `[graft-http] listening on <port>`), then answers line
  *     commands on stdin against its session: `conf` prints the Spark
  *     master and shuffle partitions, `trace` attaches a [[Tracer]],
  *     `untrace` detaches it, `dump <file>` writes the trace, `heap`
  *     prints the heap bytes live after a full GC, `snapshot <table>
  *     <dir>` writes the table once as parquet and prints its bytes,
  *     `quit` stops the JVM.
  *
  *   pipeline <data_dir> <out_dir> <seed> <seconds> <trace> <queries> [<record_dir>]
  *     Runs contract queries in-process on the session config
  *     `graft.Bench` uses: one untimed pass, then timed passes
  *     (seed-shuffled order) while `seconds` are not used up. Each
  *     query is timed as construction (`SparkEntry.queries(n)(spark,
  *     dir)`) plus full delivery (`collect()`), and fingerprinted
  *     outside the timing. Writes `<out_dir>/pipeline.json`. With a
  *     `record_dir`, oracle exports are on (as in `graft.Verify`), and
  *     the untimed pass's results plus the queries' DuckDB oracle SQL
  *     (`oracle_sql.json`) are written there.
  */
object Harness {
  def main(args: Array[String]): Unit = args(0) match {
    case "serve" => serve(args(1))
    case "pipeline" =>
      pipeline(args(1), args(2), args(3).toLong, args(4).toDouble,
        args(5) == "1", args(6).split(",").toSeq, args.lift(7))
  }

  private[perfbench] def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def reply(s: String): Unit = { println(s); System.out.flush() }

  private def attach(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  private def detach(spark: SparkSession, t: Tracer): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  /** Heap bytes still reachable: used heap right after a full GC. */
  private def liveHeap(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  // ---- serve ---------------------------------------------------------

  def serve(dataDir: String): Unit = {
    val main = new Thread(() =>
      try graft.service.HttpServiceMain.main(Array("0", dataDir))
      catch { case e: Throwable => e.printStackTrace(); sys.exit(1) },
      "graft-http-main")
    main.setDaemon(true)
    main.start()
    // the session HttpServiceMain built; commands arrive only after it
    // has printed its port
    def spark = SparkSession.getDefaultSession.get
    var tracer: Tracer = null
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "quit") {
      line.split(" ").toList match {
        case List("conf") => reply(s"OK ${spark.sparkContext.master} " +
          spark.conf.get("spark.sql.shuffle.partitions"))
        case List("trace") => tracer = attach(spark); reply("OK")
        case List("untrace") => detach(spark, tracer); reply("OK")
        case List("dump", file) =>
          Files.writeString(Paths.get(file), if (tracer == null) "{}" else tracer.json)
          reply("OK")
        case List("heap") => reply(s"OK ${liveHeap()}")
        case List("snapshot", table, dir) =>
          spark.table(table).coalesce(1).write.mode("overwrite").parquet(dir)
          reply(s"OK ${dirBytes(new File(dir))}")
        case other => reply(s"ERR unknown command $other")
      }
      line = in.readLine()
    }
    SparkSession.getDefaultSession.foreach(_.stop())
    sys.exit(0)
  }

  // ---- pipeline ------------------------------------------------------

  /** Order-insensitive result fingerprint: columns sorted by name, one
    * canonical string per row, rows sorted, SHA-256 (first 16 hex).
    */
  def fingerprint(cols: Seq[String], rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x.toString
    }
    val idx = cols.indices.sortBy(cols(_))
    val lines = rows.map(r => idx.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(2.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def pipeline(dataDir: String, outDir: String, seed: Long, seconds: Double,
      trace: Boolean, names: Seq[String], record: Option[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // the graft.Bench / graft.Verify session
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    val sc = spark.sparkContext
    graft.util.OracleExports.enabled = record.isDefined
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))

    final case class Run(pass: Int, traced: Boolean, name: String, start: Long,
        constructMs: Double, actionMs: Double, rows: Int, fp: String, memoHits: Long)
    def runPass(pass: Int, traced: Boolean): Seq[Run] =
      new Random(seed * 1000003L + pass).shuffle(fns).map { case (name, fn) =>
        sc.setJobGroup(s"pipe-$pass-$name", s"perfbench $name")
        val h0 = graft.util.BoundedMemo.globalHits
        val start = System.currentTimeMillis()
        val a = System.nanoTime()
        val df = fn(spark, dataDir)
        val b = System.nanoTime()
        val rows = df.collect()
        val c = System.nanoTime()
        sc.clearJobGroup()
        if (pass == 0) record.foreach { dir =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        }
        Run(pass, traced, name, start, (b - a) / 1e6, (c - b) / 1e6, rows.length,
          fingerprint(df.schema.fieldNames.toSeq, rows),
          graft.util.BoundedMemo.globalHits - h0)
      }

    val warm = runPass(0, traced = false)
    val setupDone = System.currentTimeMillis()
    // timed passes: a new one starts while the window's `seconds` are
    // not used up. A traced run times three passes, the middle one
    // traced, so the untraced passes around it state the overhead.
    val runs = Seq.newBuilder[Run]
    var tracer: Tracer = null
    if (trace) {
      runs ++= runPass(1, traced = false)
      tracer = attach(spark)
      runs ++= runPass(2, traced = true)
      detach(spark, tracer)
      runs ++= runPass(3, traced = false)
    } else {
      val t0 = System.nanoTime()
      var pass = 1
      def elapsed = (System.nanoTime() - t0) / 1e9
      while (elapsed < seconds) {
        runs ++= runPass(pass, traced = false)
        pass += 1
      }
    }
    val heapLive = liveHeap()
    def runJson(r: Run) =
      s"""{"pass":${r.pass},"traced":${r.traced},"name":${str(r.name)},"start":${r.start},""" +
        f""""construct_ms":${r.constructMs}%.3f,"action_ms":${r.actionMs}%.3f,""" +
        s""""rows":${r.rows},"fp":${str(r.fp)},"memo_hits":${r.memoHits}}"""
    val json =
      s"""{"setup_done":$setupDone,"heap_live":$heapLive,"master":${str(sc.master)},""" +
        s""""shuffle_partitions":${str(spark.conf.get("spark.sql.shuffle.partitions"))},""" +
        s""""warm":${warm.map(runJson).mkString("[", ",", "]")},""" +
        s""""runs":${runs.result().map(runJson).mkString("[", ",", "]")},""" +
        s""""trace":${if (tracer == null) "{}" else tracer.json}}"""
    record.foreach { dir =>
      Files.writeString(Paths.get(dir, "oracle_sql.json"), names.flatMap(n =>
        graft.SparkEntry.oracleSql.get(n).map(q => s"${str(n)}:${str(q)}"))
        .mkString("{", ",", "}"))
    }
    new File(outDir).mkdirs()
    Files.writeString(Paths.get(outDir, "pipeline.json"), json)
    spark.stop()
  }
}
