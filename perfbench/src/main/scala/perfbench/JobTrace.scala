package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-module totals of the Spark jobs a traced operation ran. */
final class ModuleAcc {
  var jobs = 0L
  var busyMs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
}

/** Listener that attributes every Spark job to the engine module that runs
  * it, and records the job's wall interval and task totals.
  *
  * Attribution reads the job's driver call site (the SQL execution's
  * `details`, else the first stage's), never its line numbers alone:
  *   - a benchmark-set `perfbench.module` local property wins (the
  *     registry slice tags each query with its family);
  *   - else the innermost `graft.pipeline.X` / `graft.queries.X` frame names
  *     the module, with PipelineRunner's private steps mapped to the layer
  *     they implement (`quiesce`/`swapState` → Quiescence, `history`/
  *     `appendHistory` stay PipelineRunner);
  *   - jobs `runCycle` triggers itself (its counts and checkpoints) go to the
  *     module whose operator is in the plan text: the archive or convert
  *     closure; the ledger anti-join, or the listing closure that turns the
  *     plate list into RunRecords (Discovery); otherwise the quiescence
  *     read-back.
  *
  * The listener is registered only for traced operations; the untraced ones
  * run with no listener at all.
  */
final class JobTrace(sc: SparkContext) extends SparkListener {
  private val execs = mutable.Map.empty[Long, (String, String)]
  private val stageModule = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  val modules = mutable.Map.empty[String, ModuleAcc]
  /** Wall intervals (epoch ms) of the jobs seen, for driver-gap accounting. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def acc(m: String) = modules.getOrElseUpdate(m, new ModuleAcc)

  /** Run `op` with this listener registered, then wait for its events. */
  def traced[A](op: => A): A = {
    sc.addSparkListener(this)
    try op
    finally {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(this)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.details, s.physicalPlanDescription)
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val (stack, plan) = prop("spark.sql.execution.id").flatMap(id => execs.get(id.toLong))
      .getOrElse((j.stageInfos.headOption.map(_.details).getOrElse(""), ""))
    val m = prop("perfbench.module").getOrElse(JobTrace.module(stack, plan))
    j.stageIds.foreach(stageModule(_) = m)
    jobStart(j.jobId) = (m, j.time)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(j.jobId).foreach { case (m, t0) =>
      val a = acc(m)
      a.jobs += 1; a.busyMs += j.time - t0
      intervals += ((t0, j.time))
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = stageModule.getOrElse(t.stageId, "other")
    val a = acc(m)
    a.tasks += 1
    Option(t.taskMetrics).foreach { tm =>
      a.taskRunMs += tm.executorRunTime
      a.cpuNs += tm.executorCpuTime
      a.gcMs += tm.jvmGCTime
      a.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
      a.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
      a.peakExecBytes = math.max(a.peakExecBytes, tm.peakExecutionMemory)
    }
  }

  def total: ModuleAcc = {
    val t = new ModuleAcc
    modules.values.foreach { a =>
      t.jobs += a.jobs; t.busyMs += a.busyMs; t.tasks += a.tasks
      t.taskRunMs += a.taskRunMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shuffleWriteBytes += a.shuffleWriteBytes; t.spillBytes += a.spillBytes
      t.peakExecBytes = math.max(t.peakExecBytes, a.peakExecBytes)
    }
    t
  }

  /** Milliseconds of [from, to] covered by no recorded job. */
  def gapMs(from: Long, to: Long): Long = {
    val ivs = intervals.iterator.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (to - from) - covered
  }
}

object JobTrace {
  private val Frame = """graft\.(?:pipeline|queries)\.([A-Za-z0-9_]+?)\$?\.([A-Za-z0-9_$]+)\(""".r

  def module(stack: String, plan: String): String =
    Frame.findFirstMatchIn(stack).map(m => (m.group(1), m.group(2))) match {
      case Some(("PipelineRunner", "runCycle")) => fromPlan(plan)
      case Some(("PipelineRunner", meth)) if meth.contains("quiesce") || meth.contains("swapState") =>
        "Quiescence"
      case Some((mod, _)) => mod
      case None => "other"
    }

  private def fromPlan(plan: String): String =
    if (plan.contains("graft.pipeline.ArchiveSink")) "ArchiveSink"
    else if (plan.contains("graft.pipeline.ExternalProcess")) "ExternalProcess"
    else if (plan.contains("LeftAnti") || plan.contains("graft.pipeline.Discovery") ||
      (plan.contains("LocalTableScan") && plan.contains(": graft.pipeline.RunRecord"))) "Discovery"
    else "Quiescence"
}
