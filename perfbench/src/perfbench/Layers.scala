package perfbench

import scala.jdk.CollectionConverters._

import graft.sync.DeltaSync.DeltaReport
import graft.sync.TableReport

/** Per-layer metrics of one traced pass. Every traced run reports every
  * name in [[All]]; a layer the workload does not load reports 0. */
object Layers {

  val All: Seq[(String, String)] = Seq(
    "catalog.calls" -> "count", "catalog.busy_s" -> "s",
    "partition.plan_s" -> "s", "partition.slices" -> "count", "partition.slice_skew" -> "ratio",
    "sink.write_s" -> "s", "sink.write_tasks" -> "count", "sink.rows_written" -> "count",
    "sink.count_s" -> "s", "sink.count_jobs" -> "count",
    "sync.table_max_s" -> "s", "sync.table_sum_s" -> "s", "sync.rows_per_s" -> "1/s",
    "compare.busy_s" -> "s", "compare.jobs" -> "count", "compare.tasks" -> "count",
    "compare.rows_read" -> "count", "compare.core_busy_ratio" -> "ratio", "compare.rows_per_s" -> "1/s",
    "delta.wall_s" -> "s", "delta.slices" -> "count", "delta.changed_slices" -> "count",
    "delta.rows_written" -> "count",
    "delta.rows_copied" -> "count", "delta.copy_amplification" -> "ratio",
    "delta.full_reloads" -> "count", "delta.checksum_s" -> "s", "delta.repair_write_s" -> "s",
    "delta.jobs" -> "count", "delta.tasks" -> "count",
    "curate.wall_s" -> "s", "curate.jobs" -> "count", "curate.stages" -> "count",
    "curate.tasks" -> "count", "curate.shuffle_write_bytes" -> "bytes", "curate.docs_kept" -> "count",
    "cc.wall_s" -> "s", "cc.jobs" -> "count", "cc.stages" -> "count",
    "cc.shuffle_write_bytes" -> "bytes", "cc.components" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.task_failures" -> "count", "spark.core_busy_ratio" -> "ratio")

  /** A JDBC write job: its final stage runs the JDBC writer's
    * per-partition save (`jdbc at ...`, `foreachPartition at ...`). */
  def isWrite(j: JobRec): Boolean = j.name.startsWith("jdbc at") || j.name.startsWith("foreachPartition at")
  /** The post-load pushed-down `SELECT COUNT(*)` round trip. */
  def isCount(j: JobRec): Boolean = j.name.startsWith("head at")

  def engine(all: JobSum, wallS: Double): Map[String, Double] = Map(
    "spark.jobs" -> all.count, "spark.tasks" -> all.tasks, "spark.executor_run_s" -> all.runS,
    "spark.executor_cpu_s" -> all.cpuS, "spark.gc_s" -> all.gcS,
    "spark.shuffle_read_bytes" -> all.shuffleRead, "spark.shuffle_write_bytes" -> all.shuffleWrite,
    "spark.spill_bytes" -> all.spill, "spark.task_failures" -> all.failures,
    "spark.core_busy_ratio" -> all.runS / (wallS * Bench.Cores))

  def sync(jobs: Seq[JobRec], reports: Seq[TableReport], spans: Seq[Span], cat: TracedCatalog,
      syncS: Double, rows: Long): Map[String, Double] = {
    val syncJobs = jobs.filter(_.group.startsWith("graft-sync-"))
    val extract = syncJobs.filter(j => j.group == "graft-sync-lineitem" && isWrite(j))
      .flatMap(_.agg.perTaskRecords)
    val skew = if (extract.isEmpty || extract.sum == 0) 0.0
               else extract.max.toDouble / (extract.sum.toDouble / extract.size)
    val slices = cat.slices.asScala.map(_._2)
    val writes = JobSum(syncJobs.filter(isWrite))
    val counts = JobSum(syncJobs.filter(isCount))
    Map(
      "sink.write_s" -> writes.seconds, "sink.write_tasks" -> writes.tasks,
      "sink.rows_written" -> writes.recordsWritten,
      "sink.count_s" -> counts.seconds, "sink.count_jobs" -> counts.count,
      "catalog.calls" -> cat.calls.get.toDouble,
      "catalog.busy_s" -> spans.filter(_.name.startsWith("catalog.")).map(_.seconds).sum,
      "partition.plan_s" -> spans.filter(_.name == "catalog.readPartitioned").map(_.seconds).sum,
      "partition.slices" -> slices.sum.toDouble,
      "partition.slice_skew" -> skew,
      "sync.table_max_s" -> reports.map(_.elapsedMs).max / 1e3,
      "sync.table_sum_s" -> reports.map(_.elapsedMs).sum / 1e3,
      "sync.rows_per_s" -> rows / syncS)
  }

  def compare(jobs: Seq[JobRec], cmpS: Double, rowsBothSides: Long): Map[String, Double] = {
    val c = JobSum(jobs.filter(_.group == "perfbench-verify"))
    Map("compare.busy_s" -> c.seconds, "compare.jobs" -> c.count, "compare.tasks" -> c.tasks,
      "compare.rows_read" -> c.recordsRead, "compare.core_busy_ratio" -> c.runS / (cmpS * Bench.Cores),
      "compare.rows_per_s" -> rowsBothSides / cmpS)
  }

  def delta(jobs: Seq[JobRec], reports: Seq[DeltaReport], wallS: Double, changedRows: Long)
      : Map[String, Double] = {
    val d = jobs.filter(_.group.startsWith("graft-delta-"))
    val copied = reports.map(_.rowsCopied).sum.toDouble
    Map(
      "delta.wall_s" -> wallS,
      "delta.rows_written" -> JobSum(d.filter(isWrite)).recordsWritten,
      "delta.slices" -> reports.map(_.slices).sum.toDouble,
      "delta.changed_slices" -> reports.map(_.changedSlices).sum.toDouble,
      "delta.rows_copied" -> copied,
      "delta.copy_amplification" -> copied / math.max(1L, changedRows),
      "delta.full_reloads" -> reports.count(r => r.slices == 1 && r.changedSlices == 1).toDouble,
      // every delta job that is not a repair write: cut planning and the
      // per-slice checksum aggregations of both sides
      "delta.checksum_s" -> JobSum(d.filterNot(isWrite)).seconds,
      "delta.repair_write_s" -> JobSum(d.filter(isWrite)).seconds,
      "delta.jobs" -> d.size.toDouble,
      "delta.tasks" -> JobSum(d).tasks)
  }

  def curate(jobs: Seq[JobRec], curateS: Double, ccS: Double, kept: Double, comps: Double)
      : Map[String, Double] = {
    val cu = JobSum(jobs.filter(_.group == "perfbench-curate"))
    val cc = JobSum(jobs.filter(_.group == "perfbench-cc"))
    Map("curate.wall_s" -> curateS, "curate.jobs" -> cu.count, "curate.stages" -> cu.stages,
      "curate.tasks" -> cu.tasks, "curate.shuffle_write_bytes" -> cu.shuffleWrite,
      "curate.docs_kept" -> kept,
      "cc.wall_s" -> ccS, "cc.jobs" -> cc.count, "cc.stages" -> cc.stages,
      "cc.shuffle_write_bytes" -> cc.shuffleWrite, "cc.components" -> comps)
  }
}
