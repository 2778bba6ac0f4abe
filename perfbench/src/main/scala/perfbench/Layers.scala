package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The per-layer metric set every traced run prints (a layer a workload does
  * not exercise reads 0), and the Spark/JVM totals all workloads share. */
object Layers {
  val sparkTotals: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.peak_exec_mb" -> "MB", "spark.storage_mb" -> "MB",
    "jvm.heap_after_gc_mb" -> "MB",
    "trace.traced_pass_s" -> "s", "trace.untraced_pass_s" -> "s", "trace.overhead_pct" -> "%")

  val pipeline: Seq[(String, String)] = Seq(
    "ExternalProcess.busy_s" -> "s", "ExternalProcess.subprocs" -> "count", "ExternalProcess.ms_per_run" -> "ms",
    "ArchiveSink.busy_s" -> "s", "ArchiveSink.bytes_in_mb" -> "MB", "ArchiveSink.bytes_out_mb" -> "MB",
    "Discovery.busy_s" -> "s", "Discovery.runs_listed" -> "count", "Discovery.pending" -> "count",
    "Quiescence.busy_s" -> "s", "Quiescence.state_rows" -> "count",
    "LedgerStore.busy_s" -> "s", "LedgerStore.files" -> "count", "LedgerStore.attempts_rows" -> "count",
    "VerifyGate.busy_s" -> "s",
    "PipelineRunner.busy_s" -> "s", "PipelineRunner.jobs" -> "count",
    "PipelineRunner.driver_gap_s" -> "s", "PipelineRunner.history_files" -> "count") ++
    PipelineBench.Panels.map(p => s"RunAnalytics.${p}_s" -> "s")

  val registry: Seq[(String, String)] =
    RegistryBench.Slice.map(q => s"q.${q}_s" -> "s") ++
      RegistryBench.Families.flatMap(f => Seq(s"$f.tasks" -> "count", s"$f.cpu_s" -> "s",
        s"$f.gc_s" -> "s", s"$f.shuffle_write_mb" -> "MB", s"$f.spill_mb" -> "MB",
        s"$f.peak_exec_mb" -> "MB"))

  val all: Seq[(String, String)] = sparkTotals ++ pipeline ++ registry

  /** Every declared per-layer metric, in declaration order: the ones the
    * workload measured, 0 for the rest. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics $unknown")
    all.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }

  /** Spark totals over the traced operations (per operation), memory held at
    * the end of the run, and the traced-vs-untraced pass medians. */
  def common(spark: SparkSession, t: JobTrace, traced: Seq[Double], untraced: Seq[Double]): Seq[Metric] = {
    val n = math.max(1, traced.size).toDouble
    val a = t.total
    System.gc()
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    val storage = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val (tm, um) = (if (traced.isEmpty) 0.0 else Stats.median(traced), if (untraced.isEmpty) 0.0 else Stats.median(untraced))
    Seq(
      Metric("spark.jobs", a.jobs / n, "count"), Metric("spark.tasks", a.tasks / n, "count"),
      Metric("spark.task_run_s", a.taskRunMs / 1e3 / n, "s"), Metric("spark.cpu_s", a.cpuNs / 1e9 / n, "s"),
      Metric("spark.gc_s", a.gcMs / 1e3 / n, "s"),
      Metric("spark.shuffle_write_mb", a.shuffleWriteBytes / 1e6 / n, "MB"),
      Metric("spark.spill_mb", a.spillBytes / 1e6 / n, "MB"),
      Metric("spark.peak_exec_mb", a.peakExecBytes / 1e6, "MB"),
      Metric("spark.storage_mb", storage / 1e6, "MB"),
      Metric("jvm.heap_after_gc_mb", heap / 1e6, "MB"),
      Metric("trace.traced_pass_s", tm, "s"), Metric("trace.untraced_pass_s", um, "s"),
      Metric("trace.overhead_pct", if (um > 0) 100 * (tm / um - 1) else 0.0, "%"))
  }
}
