package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{GraftConfig, LedgerStore, PipelineRunner, RunAnalytics}

/** The pipeline_steady workload: a long-lived lab polled by the engine.
  *
  * Set-up seeds a tree of `SeedRuns` runs through `runCycle` itself (one
  * cycle, quietS=0, no archiving — also the JVM's warm-up cycle). Each timed
  * operation then, in a closed loop with one operation in flight (the
  * reference's max_active_runs=1): adds 16 new runs, 8 in-acquisition runs
  * (each then grows for 4 cycles) and one poison run (all untimed); runs one
  * `runCycle` with quietS=120, deleteOrig=false on a synthetic clock that
  * steps 300 s per cycle; refreshes the dashboard (every RunAnalytics panel
  * collected).
  *
  * A poison run is retried every second cycle (each retry waits out a fresh
  * quiet period), so one poison run per cycle puts the failure bookkeeping in
  * every cycle from the second on; fewer poison runs would split the cycles
  * into two cost classes and make the median jump between them.
  */
object PipelineBench {
  val Plates = 16
  val SeedRuns = 512
  val MinCycles = 4
  val ArrivalsPerCycle = 16
  val GrowersPerCycle = 8
  val GrowCycles = 4
  val FilesPerRun = 2
  val FileBytes = 4096
  val Panels = Seq("converted_24h", "avg_minutes", "per_hour", "recent_cycles", "run_details", "compression")
  /** Synthetic clock: one cycle per poll period of the reference (5 min). */
  val CycleS = 300L
  private val T0 = Instant.parse("2026-01-05T00:00:00Z")

  final class Lab(root: Path) {
    val watch: Path = root.resolve("watch")
    val out: Path = root.resolve("converted")
    val arch: Path = root.resolve("archive")
    val state: Path = root.resolve("state")
    Files.createDirectories(watch)
    def plate(i: Int) = f"plate$i%02d"
    def cfg(command: Seq[String]): GraftConfig =
      GraftConfig(watchDir = watch.toString, outputDir = out.toString,
        archiveDir = arch.toString, stateDir = state.toString,
        quietS = 120, deleteOrig = false, command = command)
  }

  def converter(env: Env, lie: Boolean = false): Seq[String] =
    Seq("sh", env.home.resolve("stub_convert.sh").toString) ++ (if (lie) Seq("lie") else Nil)

  def clock(cycle: Int): Instant = T0.plusSeconds(CycleS * cycle)

  def ledger(spark: SparkSession, cfg: GraftConfig) = new LedgerStore(spark, cfg.stateDir, cfg.maxAttempts)

  /** One full dashboard refresh: every RunAnalytics panel collected. */
  def refresh(spark: SparkSession, cfg: GraftConfig, panelS: mutable.Map[String, mutable.Buffer[Double]]): Map[String, Array[Row]] = {
    val dash = RunAnalytics.dashboard(spark, cfg)
    Panels.map { p =>
      val (rows, s) = Stats.timed(dash(p).collect())
      panelS.getOrElseUpdate(p, mutable.Buffer.empty) += s
      p -> rows
    }.toMap
  }

  /** Dashboard totals against the ledger and the latest cycle's counts. */
  def dashboardProblems(d: Map[String, Array[Row]], ledgerRows: Long, historyRows: => Long,
      archived: Boolean, last: PipelineRunner.CycleResult, lastTs: Instant): Seq[String] = {
    val p = mutable.Buffer.empty[String]
    val c24 = d("converted_24h").head.getLong(0)
    if (c24 != ledgerRows) p += s"converted_24h=$c24 but ledger has $ledgerRows"
    val perHour = d("per_hour").map(_.getLong(1)).sum
    if (perHour != ledgerRows) p += s"per_hour sums to $perHour but ledger has $ledgerRows"
    if (d("avg_minutes").head.isNullAt(0)) p += "avg_minutes is null"
    val comp = d("compression").head
    val (orig, arch) = (comp.getAs[Long]("orig_bytes"), comp.getAs[Long]("archive_bytes"))
    if (archived != (orig > 0) || (orig > 0) != (arch > 0) || arch > orig)
      p += s"compression orig=$orig archive=$arch with${if (archived) "" else "out"} archived runs"
    // A cycle with nothing ready writes no history, so no panel row.
    val latest = d("recent_cycles").headOption.filter(_.getTimestamp(0).toInstant == lastTs)
    val want = (last.stats.total, last.stats.succeeded, last.stats.failed, last.stats.skipped)
    latest.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))) match {
      case Some(got) if got != want => p += s"recent_cycles latest $got, cycle reported $want"
      case None if last.stats.total > 0 => p += s"recent_cycles has no row for cycle $lastTs"
      case _ =>
    }
    val details = d("run_details").length
    if (details < 100 && details != historyRows) p += s"run_details has $details rows, history $historyRows"
    p.toSeq
  }

  /** A run the lab laid down before cycle `created`; its size last changed
    * just before cycle `lastChange`. */
  final case class Arrival(plate: String, base: String, poison: Boolean, created: Int,
      var lastChange: Int, var growing: Boolean)

  /** Per-cycle figures a traced run reads back after the cycle (untimed). */
  final class CycleLayers {
    val subprocs, listed, pending, stateRows, bytesIn, bytesOut, cycleJobs, gapMs = mutable.Buffer.empty[Double]
  }

  def run(env: Env, spark: SparkSession, command: Seq[String], seedRuns: Int = SeedRuns): RunResult = {
    val lab = new Lab(env.work.resolve("steady"))
    val cfg = lab.cfg(command)
    val tally = new Tally
    var setupOk = true

    for (i <- 0 until seedRuns)
      RunTree.writeRun(lab.watch, lab.plate(i % Plates), f"s$i%05d", FilesPerRun, FileBytes, env.seed)
    Try(PipelineRunner.runCycle(spark, cfg.copy(quietS = 0, archiveOrig = false), clock(-1))) match {
      case Success(r) if r.stats.succeeded == seedRuns =>
      case other => setupOk = false; System.err.println(s"perfbench: FAILED seeding cycle: $other")
    }

    val runs = mutable.ArrayBuffer.empty[Arrival]
    val rng = RunTree.rng(env.seed, "steady-arrivals")
    var growGen = 0
    def arrive(k: Int): Unit = {
      for (a <- runs if a.growing) {
        if (k - a.created >= GrowCycles) a.growing = false
        else {
          growGen += 1
          RunTree.grow(lab.watch.resolve(a.plate).resolve(s"${a.base}.d"), 1024, env.seed, growGen)
          a.lastChange = k
        }
      }
      def add(base: String, poison: Boolean, growing: Boolean): Unit = {
        val plate = lab.plate(rng.nextInt(Plates))
        RunTree.writeRun(lab.watch, plate, base, FilesPerRun, FileBytes, env.seed)
        runs += Arrival(plate, base, poison, k, k, growing)
      }
      for (j <- 0 until ArrivalsPerCycle) add(f"a$k%04d_$j%02d", poison = false, growing = false)
      for (j <- 0 until GrowersPerCycle) add(f"g$k%04d_$j%02d", poison = false, growing = true)
      add(f"poison$k%04d", poison = true, growing = false)
    }

    val setupS = env.sinceStart()
    val trace = if (env.trace) Some(new JobTrace(spark.sparkContext)) else None
    val cycleS, passS, tracedPassS, untracedPassS = mutable.Buffer.empty[Double]
    val panelS = mutable.Map.empty[String, mutable.Buffer[Double]]
    val layers = new CycleLayers
    var archivedAny = false // the seeding cycle archives nothing; timed cycles do
    val t0 = System.nanoTime()
    var k = 0
    while (k < MinCycles || (Stats.secondsSince(t0) < env.seconds && k < 400)) {
      arrive(k)
      val now = clock(k)
      // A traced run alternates: odd cycles traced, even ones with no listener.
      val traced = trace.filter(_ => k % 2 == 1)
      def maybeTraced[T](f: => T): T = traced.fold(f)(_.traced(f))
      val w0 = System.currentTimeMillis()
      val attempt = Try {
        val (r, cs) = Stats.timed(maybeTraced(PipelineRunner.runCycle(spark, cfg, now)))
        val w1 = System.currentTimeMillis()
        val (dash, ds) = Stats.timed(maybeTraced(refresh(spark, cfg, if (traced.isDefined) panelS else mutable.Map.empty)))
        cycleS += cs; passS += cs + ds
        System.err.println(f"perfbench: cycle $k%d ${r.stats}: runCycle $cs%.3f s, refresh $ds%.3f s")
        // the first cycle still carries warm-up, so it stays out of the overhead pair
        if (trace.isDefined && k > 0) (if (traced.isDefined) tracedPassS else untracedPassS) += cs + ds
        traced.foreach(t => recordLayers(layers, t, spark, cfg, r, now, w0, w1))
        (r, dash)
      }
      val ledgerRows = ledger(spark, cfg).converted.count()
      attempt match {
        case Success((r, dash)) =>
          archivedAny ||= r.stats.succeeded > 0
          tally.op(s"refresh after cycle $k")(dashboardProblems(dash, ledgerRows,
            PipelineRunner.history(spark, cfg).count(), archivedAny, r, now))
        case Failure(e) =>
          tally.op(s"refresh after cycle $k")(Seq(s"cycle threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      k += 1
    }
    val last = k - 1

    // Exactly-once and quiescence checks over the whole history, each
    // violation charged to the cycle that should have done otherwise.
    val hist = PipelineRunner.history(spark, cfg)
      .select("plateRel", "base", "state", "cycleTs").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
    val cycleOf = (0 to last).map(c => Timestamp.from(clock(c)) -> c).toMap
    val bad = mutable.Map.empty[Int, mutable.Buffer[String]]
    def blame(c: Int, why: String) = bad.getOrElseUpdate(math.min(c, last), mutable.Buffer.empty) += why
    for (a <- runs) {
      val at = hist.getOrElse((a.plate, a.base), Array.empty[Row])
        .map(r => (r.getString(2), cycleOf.getOrElse(r.getTimestamp(3), -1))).sortBy(_._2).toSeq
      // quietS=120 < one 300 s step: ready on the first cycle after the last change
      val due = a.lastChange + 1
      if (!a.poison) {
        val want = if (!a.growing && due <= last) Seq(("success", due)) else Seq.empty
        if (at != want) blame(due, s"${a.plate}/${a.base} history $at, expected $want")
      } else {
        val attempts = at.map(_._2)
        if (at.exists(_._1 != "failed")) blame(due, s"${a.base} poison history $at")
        if (attempts.length > cfg.maxAttempts) blame(attempts(cfg.maxAttempts), s"${a.base} attempted ${attempts.length} times")
        if (due <= last && !attempts.headOption.contains(due)) blame(due, s"${a.base} first attempt ${attempts.headOption}, due $due")
        // each retry needs a fresh quiet period: attempts land 2 cycles apart
        if (last >= due + 2 * (cfg.maxAttempts - 1) && attempts.length != cfg.maxAttempts)
          blame(last, s"${a.base} attempted ${attempts.length} times, expected ${cfg.maxAttempts}")
      }
    }
    val dupKeys = ledger(spark, cfg).converted.groupBy("base", "plateRel").count().where(col("count") > 1).count()
    if (dupKeys > 0) blame(last, s"$dupKeys ledger keys converted more than once")
    for (c <- 0 to last) tally.op(s"cycle $c")(bad.get(c).map(_.toSeq).getOrElse(Nil))

    val metrics = trace match {
      case None => Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_s", Stats.median(cycleS.toSeq), "s"),
        Metric("pass_s", Stats.median(passS.toSeq), "s"))
      case Some(t) => layerMetrics(spark, cfg, t, layers, panelS, tracedPassS.toSeq, untracedPassS.toSeq)
    }
    RunResult(tally.attempted, tally.failed, setupOk, metrics)
  }

  private def parquetFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.filter(_.toString.endsWith(".parquet")).count() finally s.close() }

  /** Traced-cycle figures read back from the cycle's outputs (untimed). */
  private def recordLayers(l: CycleLayers, t: JobTrace, spark: SparkSession, cfg: GraftConfig,
      r: PipelineRunner.CycleResult, now: Instant, w0: Long, w1: Long): Unit = {
    l.subprocs += r.ready; l.listed += r.discovered; l.pending += r.pending
    l.stateRows += r.pending - r.ready // swapState keeps exactly the not-ready rows
    val bytes = PipelineRunner.history(spark, cfg).where(col("cycleTs") === lit(Timestamp.from(now)))
      .agg(coalesce(sum("origBytes"), lit(0L)), coalesce(sum("archiveBytes"), lit(0L))).head()
    l.bytesIn += bytes.getLong(0).toDouble; l.bytesOut += bytes.getLong(1).toDouble
    l.cycleJobs += t.intervals.count { case (a, b) => a >= w0 && b <= w1 }.toDouble
    l.gapMs += t.gapMs(w0, w1).toDouble
  }

  private def layerMetrics(spark: SparkSession, cfg: GraftConfig, t: JobTrace, l: CycleLayers,
      panelS: mutable.Map[String, mutable.Buffer[Double]], traced: Seq[Double], untraced: Seq[Double]): Seq[Metric] = {
    val n = math.max(1, traced.size).toDouble
    def mean(b: mutable.Buffer[Double]) = if (b.isEmpty) 0.0 else Stats.sum(b.toSeq) / b.size
    def busy(m: String) = t.modules.get(m).map(_.busyMs / 1000.0 / n).getOrElse(0.0)
    val epMs = t.modules.get("ExternalProcess").map(_.busyMs).getOrElse(0L)
    val subprocs = Stats.sum(l.subprocs.toSeq)
    val state = Path.of(cfg.stateDir)
    Layers.common(spark, t, traced, untraced) ++ Seq(
      Metric("ExternalProcess.busy_s", busy("ExternalProcess"), "s"),
      Metric("ExternalProcess.subprocs", subprocs / n, "count"),
      Metric("ExternalProcess.ms_per_run", if (subprocs > 0) epMs / subprocs else 0.0, "ms"),
      Metric("ArchiveSink.busy_s", busy("ArchiveSink"), "s"),
      Metric("ArchiveSink.bytes_in_mb", mean(l.bytesIn) / 1e6, "MB"),
      Metric("ArchiveSink.bytes_out_mb", mean(l.bytesOut) / 1e6, "MB"),
      Metric("Discovery.busy_s", busy("Discovery"), "s"),
      Metric("Discovery.runs_listed", mean(l.listed), "count"),
      Metric("Discovery.pending", mean(l.pending), "count"),
      Metric("Quiescence.busy_s", busy("Quiescence"), "s"),
      Metric("Quiescence.state_rows", mean(l.stateRows), "count"),
      Metric("LedgerStore.busy_s", busy("LedgerStore"), "s"),
      Metric("LedgerStore.files", (parquetFiles(state.resolve("converted")) +
        parquetFiles(state.resolve("attempts"))).toDouble, "count"),
      Metric("LedgerStore.attempts_rows", ledger(spark, cfg).attempts.count().toDouble, "count"),
      Metric("VerifyGate.busy_s", busy("VerifyGate"), "s"),
      Metric("PipelineRunner.busy_s", busy("PipelineRunner"), "s"),
      Metric("PipelineRunner.jobs", mean(l.cycleJobs), "count"),
      Metric("PipelineRunner.driver_gap_s", mean(l.gapMs) / 1000.0, "s"),
      Metric("PipelineRunner.history_files", parquetFiles(state.resolve("history")).toDouble, "count")
    ) ++ Panels.map(p => Metric(s"RunAnalytics.${p}_s",
      panelS.get(p).map(b => Stats.median(b.toSeq)).getOrElse(0.0), "s"))
  }
}
