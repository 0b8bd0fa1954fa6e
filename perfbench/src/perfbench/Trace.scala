package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog

/** One timed interval at a layer boundary. Spans of one pass share
  * `trace`; `parent` is the id of the span that caused this one. */
final case class Span(id: Int, trace: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out once, when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val next = new java.util.concurrent.atomic.AtomicInteger(1)
  @volatile var trace = 0
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  private val mainThread = Thread.currentThread()
  // innermost span open on the harness thread: the parent of spans that
  // open on worker threads (syncAll's per-table pool)
  @volatile private var mainTop = 0

  def span[A](name: String)(body: => A): A = {
    val id = next.getAndIncrement()
    val outer = current.get
    val parent = if (outer != 0) outer else mainTop
    val onMain = Thread.currentThread() eq mainThread
    current.set(id)
    if (onMain) mainTop = id
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current.set(outer)
      if (onMain) mainTop = outer
      buf.synchronized(buf += Span(id, trace, parent, name, t0, t1))
    }
  }

  def inTrace(t: Int): Seq[Span] = buf.synchronized(buf.filter(_.trace == t).toSeq)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val rows = buf.synchronized(buf.toSeq).sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Delegating [[Catalog]] that records a span and a call count around
  * every method. Wraps the source catalog for `Sync.syncAll` and
  * `Compare.contentCompare` only — `DeltaSync` matches on the concrete
  * `JdbcCatalog` to choose its pushed-down planning path, so it must
  * always receive the unwrapped catalog. */
final class TracedCatalog(inner: Catalog, spans: Spans) extends Catalog {
  val calls = new java.util.concurrent.atomic.AtomicLong
  /** (table, slices) of every readPartitioned call, in call order. */
  val slices = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]

  private def traced[A](name: String)(body: => A): A = {
    calls.incrementAndGet()
    spans.span(s"catalog.$name")(body)
  }

  override def listTables(exclude: Seq[String]): Seq[String] =
    traced("listTables")(inner.listTables(exclude))
  override protected def allTables: Seq[String] = inner.listTables()
  override def primaryKey(table: String): Seq[String] =
    traced("primaryKey")(inner.primaryKey(table))
  override def read(spark: SparkSession, table: String): DataFrame =
    traced("read")(inner.read(spark, table))
  override def rowCount(spark: SparkSession, table: String): Long =
    traced("rowCount")(inner.rowCount(spark, table))
  override def readPartitioned(
      spark: SparkSession, table: String, pageSize: Long, maxSlices: Int): DataFrame = {
    // the DataFrame is lazy: this span is pure planning round trips
    val df = traced("readPartitioned")(inner.readPartitioned(spark, table, pageSize, maxSlices))
    slices.add(table -> df.rdd.getNumPartitions)
    df
  }
}

/** Aggregated task metrics. */
final class TaskAgg {
  var tasks = 0L; var failures = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var recordsRead = 0L; var recordsWritten = 0L
  val perTaskRecords = mutable.ArrayBuffer.empty[Long]

  def add(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    if (e.reason != Success) failures += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime; cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
      recordsWritten += m.outputMetrics.recordsWritten
      perTaskRecords += m.inputMetrics.recordsRead
    }
  }
}

/** One Spark job as the listener saw it. */
final class JobRec(val id: Int, val group: String, val stageNames: Seq[String], val startMs: Long) {
  var endMs = 0L
  var stagesRun = 0
  val agg = new TaskAgg
  def seconds: Double = math.max(0L, endMs - startMs) / 1e3
  def name: String = stageNames.lastOption.getOrElse("")
}

/** Benchmark-owned listener: groups jobs by job group (`Jobs.tagged`
  * sets one per table, the harness one per verb) and names them by
  * their final stage's call site (`StageInfo.name`). */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val rec = new JobRec(e.jobId, group, e.stageInfos.sortBy(_.stageId).map(_.name), e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = rec)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach(_.agg.add(e))
  }

  /** Drain the (asynchronous) listener bus, then hand back and forget
    * every job seen so far. */
  def take(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = jobs.values.toSeq
      jobs.clear(); stageJob.clear()
      out
    }
  }
}

/** Totals over a set of jobs. */
final case class JobSum(jobs: Seq[JobRec]) {
  def count: Double = jobs.size.toDouble
  def stages: Double = jobs.map(_.stagesRun).sum.toDouble
  def tasks: Double = jobs.map(_.agg.tasks).sum.toDouble
  def seconds: Double = jobs.map(_.seconds).sum
  def runS: Double = jobs.map(_.agg.runMs).sum / 1e3
  def cpuS: Double = jobs.map(_.agg.cpuNs).sum / 1e9
  def gcS: Double = jobs.map(_.agg.gcMs).sum / 1e3
  def shuffleRead: Double = jobs.map(_.agg.shuffleRead).sum.toDouble
  def shuffleWrite: Double = jobs.map(_.agg.shuffleWrite).sum.toDouble
  def spill: Double = jobs.map(_.agg.spill).sum.toDouble
  def failures: Double = jobs.map(_.agg.failures).sum.toDouble
  def recordsRead: Double = jobs.map(_.agg.recordsRead).sum.toDouble
  def recordsWritten: Double = jobs.map(_.agg.recordsWritten).sum.toDouble
}
