package perfbench

import java.sql.{Connection, DriverManager}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.catalog.JdbcCatalog
import graft.config.{Endpoint, SyncConfig}
import graft.sync.{Compare, DeltaSync, JdbcSink, Sync}

/** The benchmark harness: one workload, timed from outside the program
  * through its public entry points, outputs checked independently.
  *
  *   perfbench.Bench --workload migrate|curate --seed N --seconds S
  *                   --trace 0|1 --scale SF --work DIR --traces DIR
  *                   [--plant-fault] [--pin s1,s2,...]
  *
  * Run shape: start the session; set the workload up `SetupReps` times
  * (setup_s = session start + median set-up); `WarmupPasses` untimed
  * passes; then timed passes, at least `MinPasses`, until `--seconds`
  * have elapsed. Every pass is checked; checks are untimed. The last
  * stdout line is the JSON result.
  */
object Bench {

  val SetupReps = 3
  /** Untimed passes before timing. Pass times keep falling for several
    * passes after the first (JIT), and how fast they fall depends on how
    * busy the host is; a pass timed later in that curve varies less from
    * run to run, so the second pass is still a warm-up. */
  val WarmupPasses = 2
  /** Timed passes per run, at the least, whatever the machine's speed, so
    * that every run times the same passes. */
  val MinPasses = 2
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  /** Passes stop starting once the JVM has run this long, so that a
    * run always ends well inside its time limit. */
  val PassDeadlineS = 140.0

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean, scale: Double,
      plantFault: Boolean, pin: Seq[Long], train: Boolean, work: String, traces: String)

  def parse(args: Array[String]): Opts = {
    def opt(k: String): Option[String] = args.sliding(2).collectFirst { case Array(`k`, v) => v }
    val train = args.contains("--train")
    def need(k: String): String = opt(k).getOrElse(if (train) "0" else sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", opt("--scale").map(_.toDouble).getOrElse(0.002),
      args.contains("--plant-fault"),
      opt("--pin").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map(_.toLong),
      train, need("--work"), need("--traces"))
  }

  /** Operation ledger: every program report and every output check is
    * one attempted operation; a bad report or failed check is a failure. */
  final class Ledger {
    var attempted = 0L
    var failed = 0L
    def check(what: String, ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"perfbench: check failed: $what") }
    }
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[A](body: => A): (A, Double) = { val t0 = System.nanoTime(); val a = body; (a, seconds(t0)) }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = System.nanoTime()
    val (spark, sessionS) = timed {
      GraftSession.builder("perfbench")
        .master(s"local[$Cores]")
        .config("spark.sql.shuffle.partitions", Cores.toString)
        .config("spark.local.dir", s"${o.work}/spark")
        .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        if (o.train) { train(spark, o); 0 }
        else if (o.pin.nonEmpty) { pin(spark, o); 0 }
        else { println(run(spark, o, sessionS, jvmStart)); 0 }
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      } finally spark.stop()
    System.exit(code)
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double, jvmStart: Long): String = {
    val ledger = new Ledger
    val spans = new Spans
    val listener = new JobListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val w = workload(spark, o, ledger, spans)
    try {
      def log(what: String): Unit = System.err.println(f"perfbench: ${seconds(jvmStart)}%7.2fs $what")
      log(f"session ${sessionS}%.2fs")
      val setups = (0 until SetupReps).map(k => timed(w.setup(k))._2)
      log(s"setups ${setups.map(s => f"$s%.2f").mkString(" ")}")
      (1 to WarmupPasses).foreach { k =>
        w.pass(0, listener) // untimed, still checked
        log(s"warm-up pass $k done")
      }
      val passes = mutable.ArrayBuffer.empty[PassOut]
      val t0 = System.nanoTime()
      while (passes.size < MinPasses ||
             (seconds(t0) < o.seconds && seconds(jvmStart) < PassDeadlineS)) {
        spans.trace = passes.size + 1
        passes += w.pass(passes.size + 1, listener)
        log(f"pass ${passes.size} job ${passes.last.jobS}%.3fs")
      }
      if (o.trace)
        spans.write(java.nio.file.Paths.get(o.traces, s"${o.workload}-seed${o.seed}.json"))
      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) Seq(
          ("setup_s", sessionS + median(setups), "s"),
          ("job_s", median(passes.map(_.jobS).toSeq), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("ok_rate", 1.0 - ledger.failed.toDouble / math.max(1L, ledger.attempted), "ratio"))
        else Layers.All.map { case (name, unit) =>
          (name, median(passes.map(_.layers.getOrElse(name, 0.0)).toSeq), unit)
        } :+ (("trace.job_s", median(passes.map(_.jobS).toSeq), "s"))
      val ms = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      s"""{"correct": ${ledger.failed == 0}, "attempted": ${ledger.attempted}, """ +
        s""""failed": ${ledger.failed}, "metrics": {${ms.mkString(", ")}}}"""
    } finally w.close()
  }

  def workload(spark: SparkSession, o: Opts, ledger: Ledger, spans: Spans): Workload =
    o.workload match {
      case "migrate" => new Migrate(spark, o, ledger, spans)
      case "curate"  => new Curate(spark, o, ledger, spans)
      case other     => sys.error(s"unknown workload $other")
    }

  /** One set-up and one pass of every workload, results discarded: the
    * class-loading run the build dumps its class-data archive from. */
  def train(spark: SparkSession, o: Opts): Unit = {
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    Seq("migrate", "curate").foreach { name =>
      val w = workload(spark, o.copy(workload = name, seed = 1L, trace = true), new Ledger, new Spans)
      try { w.setup(0); w.pass(1, listener) } finally w.close()
    }
  }

  /** Print the pinned curate outputs for each seed in `--pin`. */
  def pin(spark: SparkSession, o: Opts): Unit = {
    val entries = o.pin.map { s =>
      val c = new Curate(spark, o.copy(seed = s), new Ledger, new Spans)
      try {
        c.setup(0)
        c.runCli()
        val (kept, labels) = c.readOutputs()
        val (n, md5, comps) = c.summary(kept, labels)
        s""""${Curate.pinKey(o.scale, s)}": {"docs_kept": $n, "kept_md5": "$md5", "components": $comps}"""
      } finally c.close()
    }
    println(entries.mkString("{", ", ", "}"))
  }

  // ---- shared helpers -------------------------------------------------

  def jdbc(url: String): Connection = DriverManager.getConnection(url)

  def exec(url: String, sql: Seq[String]): Unit = {
    val c = jdbc(url)
    try { val st = c.createStatement(); try sql.foreach(st.execute) finally st.close() }
    finally c.close()
  }

  /** Drop an in-memory Derby database (success is reported as 08006). */
  def dropDb(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case _: java.sql.SQLException => () }

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** Canonical text of one cell: doubles normalised to six decimals,
    * dates as ISO days, NULL distinct from any string. */
  def canon(v: Any): String = v match {
    case null                  => "\u0000"
    case d: java.lang.Double   => String.format(java.util.Locale.ROOT, "%.6f", d)
    case other                 => other.toString
  }

  /** Order-independent content hash of a table: row count plus the sum
    * of a 64-bit MD5 prefix of each row's canonical rendering (columns
    * in name order). Computed in the harness JVM without Spark, so neither
    * the program's compare layer nor Spark's JDBC reader is trusted. */
  def contentHash(rows: Iterator[Seq[(String, Any)]]): (Long, BigInt) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = BigInt(0)
    rows.foreach { cells =>
      val text = cells.sortBy(_._1).map(c => canon(c._2)).mkString("\u0001")
      sum += java.nio.ByteBuffer.wrap(md.digest(text.getBytes("UTF-8"))).getLong
      n += 1
    }
    (n, sum)
  }

  /** [[contentHash]] of a table read over plain JDBC. */
  def jdbcHash(url: String, table: String): (Long, BigInt) = {
    val c = jdbc(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $table")
      val md = rs.getMetaData
      val names = (1 to md.getColumnCount).map(i => md.getColumnName(i).toLowerCase)
      contentHash(Iterator.continually(rs).takeWhile(_.next())
        .map(r => names.zipWithIndex.map { case (n, i) => n -> r.getObject(i + 1) }))
    } finally c.close()
  }

  def withGroup[A](spark: SparkSession, group: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }
}

/** What one pass measured: the job's wall time and, when traced, the
  * per-layer metrics. */
final case class PassOut(jobS: Double, layers: Map[String, Double])

abstract class Workload(val spark: SparkSession, val o: Bench.Opts, val ledger: Bench.Ledger,
    val spans: Spans) {
  def setup(k: Int): Unit
  def pass(i: Int, listener: JobListener): PassOut
  def close(): Unit

  protected def traceJobs(listener: JobListener): Seq[JobRec] =
    if (o.trace) listener.take(spark.sparkContext) else Seq.empty
  protected def span[A](name: String)(body: => A): A =
    if (o.trace) spans.span(name)(body) else body
}

/** `migrate`: the paper's job and its repair, one pass each time —
  * Sync.syncAll from the source into the target (truncate-load), then
  * Compare.contentCompare of both sides; then the replica drifts (seeded
  * in-place updates and a few deletes in `lineitem` and `orders`,
  * untimed) and DeltaSync.syncAllDelta repairs it. Source and target are
  * in-memory Derby databases over the generated TPC-H tables; the output
  * checks hash the target against the generated rows themselves. */
final class Migrate(spark: SparkSession, o: Bench.Opts, ledger: Bench.Ledger, spans: Spans)
    extends Workload(spark, o, ledger, spans) {
  import Bench._

  val tables: Seq[Gen.Table] = Gen.tpch(o.seed, o.scale)
  val names: Seq[String] = tables.map(_.name).sorted
  val totalRows: Long = tables.map(_.rows.size.toLong).sum
  /** Rows per extract slice: `lineitem` splits into ~16 slices. */
  val pageSize: Int = math.max(256, tables.find(_.name == "lineitem").get.rows.size / 16)
  private val live = mutable.ArrayBuffer.empty[String]
  private var srcUrl = ""
  private var dstUrl = ""

  val refHashes: Map[String, (Long, BigInt)] = tables.map { t =>
    t.name -> contentHash(t.rows.iterator.map(r => t.schema.fieldNames.toSeq.zip(r.toSeq)))
  }.toMap

  def config: SyncConfig =
    SyncConfig(Endpoint(srcUrl), Endpoint(dstUrl), pageSize = pageSize, maxParallel = Cores)
  def sink: JdbcSink = JdbcSink(Endpoint(dstUrl), 1000, Cores)

  /** Fresh source (DDL + batched load) and target (DDL only) databases;
    * the previous pair is dropped. */
  def createDbs(k: Int): Unit = {
    live.foreach(dropDb); live.clear()
    val (src, dst) = (s"perfbench_src$k", s"perfbench_dst$k")
    live ++= Seq(src, dst)
    srcUrl = s"jdbc:derby:memory:$src;create=true"
    dstUrl = s"jdbc:derby:memory:$dst;create=true"
    exec(dstUrl, tables.map(_.ddl))
    val c = jdbc(srcUrl)
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      tables.foreach(t => st.execute(t.ddl))
      st.close()
      tables.foreach { t =>
        val ps = c.prepareStatement(
          s"INSERT INTO ${t.name} VALUES (${t.schema.fields.map(_ => "?").mkString(",")})")
        t.rows.iterator.grouped(2000).foreach { batch =>
          batch.foreach { r =>
            (0 until r.length).foreach(i => ps.setObject(i + 1, r.get(i)))
            ps.addBatch()
          }
          ps.executeBatch()
        }
        ps.close()
      }
      c.commit()
    } finally c.close()
  }

  /** Every target table must hash like the generated rows. */
  def checkTarget(what: String): Unit = names.foreach { t =>
    ledger.check(s"$what: target $t content hash", jdbcHash(dstUrl, t) == refHashes(t))
  }

  /** The planted fault: one target row corrupted. */
  def corruptTarget(): Unit =
    exec(dstUrl, Seq("UPDATE customer SET c_name = 'corrupted' WHERE c_custkey = 1"))

  val windows: Seq[Gen.Window] = Gen.repairWindows(o.seed, tables)
  /** Rows the drift touches (updated, some of them then deleted). */
  val changedRows: Long = windows.map { w =>
    tables.find(_.name == w.table).get.rows.count { r =>
      val k = r.getLong(0); k >= w.lo && k < w.hi
    }.toLong
  }.sum

  def setup(k: Int): Unit = createDbs(k)
  def close(): Unit = live.foreach(dropDb)

  def drift(): Unit = exec(dstUrl, windows.flatMap { w =>
    val bump = if (w.table == "lineitem") "l_quantity = l_quantity + 1" else "o_totalprice = o_totalprice + 1"
    Seq(s"UPDATE ${w.table} SET $bump WHERE ${w.keyCol} >= ${w.lo} AND ${w.keyCol} < ${w.hi}",
      s"DELETE FROM ${w.table} WHERE ${w.keyCol} IN (${w.deletes.mkString(",")})")
  })

  def pass(i: Int, listener: JobListener): PassOut = {
    traceJobs(listener)
    val cat = if (o.trace) new TracedCatalog(new JdbcCatalog(Endpoint(srcUrl)), spans)
              else new JdbcCatalog(Endpoint(srcUrl))
    val (syncs, syncS) = timed(span("sync.syncAll")(Sync.syncAll(spark, cat, sink, config)))
    if (o.plantFault) corruptTarget()
    val (rows, cmpS) = timed(withGroup(spark, "perfbench-verify")(
      span("compare.contentCompare")(Compare.contentCompare(spark, cat, sink, names))))
    syncs.foreach(r => ledger.check(s"sync ${r.table} ok (${r.error.getOrElse("")})", r.ok))
    rows.foreach(r => ledger.check(s"contentCompare ${r.table_name} YES", r.is_ok == "YES"))
    ledger.check("contentCompare covers every table", rows.map(_.table_name).sorted == names)
    checkTarget("migrate")

    drift()
    // the unwrapped JdbcCatalog: DeltaSync picks its planning path by type
    val (deltas, repairS) = timed(span("delta.syncAllDelta")(
      DeltaSync.syncAllDelta(spark, new JdbcCatalog(Endpoint(srcUrl)), sink, config)))
    if (o.plantFault) corruptTarget()
    deltas.foreach(r => ledger.check(s"delta ${r.table} ok (${r.error.getOrElse("")})", r.ok))
    Seq("lineitem", "orders").foreach { t =>
      ledger.check(s"delta $t found changed slices", deltas.exists(r => r.table == t && r.changedSlices > 0))
    }
    checkTarget("repair")

    val jobS = syncS + cmpS + repairS
    val layers = cat match {
      case tc: TracedCatalog =>
        val jobs = traceJobs(listener)
        Layers.engine(JobSum(jobs), jobS) ++
          Layers.sync(jobs, syncs, spans.inTrace(i), tc, syncS, totalRows) ++
          Layers.compare(jobs, cmpS, 2 * totalRows) ++
          Layers.delta(jobs, deltas, repairS, changedRows)
      case _ => Map.empty[String, Double]
    }
    PassOut(jobS, layers)
  }
}

object Curate {
  /** Curation flags: every funnel stage on. */
  val HostCap = "20"
  val LmTau = "7.0"
  def pinKey(scale: Double, seed: Long): String = s"$scale:$seed"
  lazy val pinned: Map[String, (Long, String, Long)] = {
    val f = java.nio.file.Paths.get("perfbench", "expected.json")
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      val entry = """"([0-9.]+:[0-9]+)":\s*\{"docs_kept":\s*(\d+),\s*"kept_md5":\s*"([0-9a-f]+)",\s*"components":\s*(\d+)\}""".r
      entry.findAllMatchIn(txt).map(m => m.group(1) -> ((m.group(2).toLong, m.group(3), m.group(4).toLong))).toMap
    }
  }
}

/** `curate`: LLM-data curation through the CLI — `curate` with every
  * stage on, then `cc build` (MinHash LSH + connected components). No
  * JDBC anywhere. */
final class Curate(spark: SparkSession, o: Bench.Opts, ledger: Bench.Ledger, spans: Spans)
    extends Workload(spark, o, ledger, spans) {
  import Bench._

  val nDocs: Int = math.max(200, math.round(500000 * o.scale).toInt)
  val (docs, eval) = Gen.corpus(o.seed, nDocs, math.max(5, nDocs / 50))
  val outDir = s"${o.work}/curate-out"
  val store = s"${o.work}/cc-store"
  private var srcDir = ""
  private var cfg = ""

  def setup(k: Int): Unit = {
    if (srcDir.nonEmpty) deleteDir(srcDir)
    srcDir = s"${o.work}/curate-src$k"
    spark.createDataFrame(docs.asJava, Gen.DocSchema).write.parquet(s"$srcDir/documents.parquet")
    spark.createDataFrame(eval.asJava, Gen.EvalSchema).write.parquet(s"$srcDir/evalset.parquet")
    cfg = s"${o.work}/curate$k.yml"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg),
      s"src:\n  url: parquet:$srcDir\ndest:\n  url: parquet:$outDir\n".getBytes("UTF-8"))
  }

  private def cli(group: String, args: String*): Int = withGroup(spark, group) {
    // stdout carries only the result line
    Console.withOut(new java.io.PrintStream(java.io.OutputStream.nullOutputStream())) {
      graft.cli.Main.run(args.toArray, spark)
    }
  }

  /** Both verbs; returns their wall times. */
  def runCli(): (Double, Double) = {
    deleteDir(store)
    val (c1, curateS) = timed(span("cli.curate")(cli("perfbench-curate", "curate", "--config", cfg,
      "--table", "documents", "--into", "curated", "--host-cap", Curate.HostCap,
      "--url-col", "source", "--rules", "--lm-tau", Curate.LmTau,
      "--bench", "evalset", "--bench-fuzzy")))
    val (c2, ccS) = timed(span("cli.cc_build")(cli("perfbench-cc", "cc", "build", "--config", cfg,
      "--table", "documents", "--store", store)))
    ledger.check("curate exit code 0", c1 == 0)
    ledger.check("cc build exit code 0", c2 == 0)
    (curateS, ccS)
  }

  /** The CLI's outputs as written: kept (doc_id, text) rows and the
    * label store's (doc_id, component) rows. With a planted fault, one
    * eval-set document is appended to the curated output first. */
  def readOutputs(): (Array[(Long, String)], Array[(Long, Long)]) = {
    val curated = s"$outDir/curated.parquet"
    if (o.plantFault) {
      val leak = eval.head.getLong(1)
      spark.read.parquet(curated).unionByName(
          spark.createDataFrame(docs.filter(_.getLong(0) == leak).asJava, Gen.DocSchema))
        .write.mode("overwrite").parquet(s"$outDir/leaked.parquet")
    }
    val kept = spark.read.parquet(if (o.plantFault) s"$outDir/leaked.parquet" else curated)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    val labels = graft.operators.dedup.ConnectedComponents.readComponentsStore(spark, store)
      .select("doc_id", "component").collect().map(r => r.getLong(0) -> r.getLong(1))
    (kept, labels)
  }

  /** (docs kept, md5 of the sorted kept ids, CC components). */
  def summary(kept: Array[(Long, String)], labels: Array[(Long, Long)]): (Long, String, Long) = {
    val ids = kept.map(_._1).sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(ids.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
    (ids.length.toLong, md5, labels.map(_._2).distinct.length.toLong)
  }

  def pass(i: Int, listener: JobListener): PassOut = {
    traceJobs(listener)
    val (curateS, ccS) = runCli()
    val jobs = traceJobs(listener)
    val (kept, labels) = readOutputs()
    val input = docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    ledger.check("curated docs are a subset of the input",
      kept.forall { case (id, text) => input.get(id).contains(text) } &&
        kept.map(_._1).distinct.length == kept.length)
    val evalIds = eval.map(_.getLong(1)).toSet
    ledger.check("no eval-set doc survives", !kept.exists(k => evalIds(k._1)))
    ledger.check("every doc has exactly one CC component",
      labels.length == nDocs && labels.map(_._1).toSet == input.keySet)
    val (n, md5, comps) = summary(kept, labels)
    Curate.pinned.get(Curate.pinKey(o.scale, o.seed)).foreach { case (en, em, ec) =>
      ledger.check(s"curate output matches pinned seed ${o.seed}", n == en && md5 == em && comps == ec)
    }
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else Layers.engine(JobSum(jobs), curateS + ccS) ++
        Layers.curate(jobs, curateS, ccS, n.toDouble, comps.toDouble)
    PassOut(curateS + ccS, layers)
  }

  def close(): Unit = Seq(outDir, store, srcDir).filter(_.nonEmpty).foreach(deleteDir)
}
