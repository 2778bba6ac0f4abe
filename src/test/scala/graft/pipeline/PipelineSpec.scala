package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** Golden-file end-to-end pipeline tests (SURVEY.md §5.2 item 4): a tmp dir
  * tree in → outputs/ledger/archives out, asserting the reference's
  * invariants (idempotent rediscovery, quiescence gating, 3-strikes skip,
  * archive policy, verify gate).
  */
class PipelineSpec extends SparkSpec {

  /** cp-based stand-in for msconvert: same contract (env in, rc 0 + expected
    * output file out). Quoted env vars so plate names with spaces work.
    */
  private val copyCmd = Seq("/bin/sh", "-c", """cat "$IN"/* > "$OUTDIR/$OUTFILE"""")
  private val failCmd = Seq("/bin/sh", "-c", "echo boom >&2; exit 1")

  private def mkTree(root: Path, plates: Map[String, Seq[String]]): Unit =
    plates.foreach { case (plate, runs) =>
      val p = root.resolve(plate)
      Files.createDirectories(p)
      runs.foreach { r =>
        val d = p.resolve(r + ".d")
        Files.createDirectories(d)
        Files.writeString(d.resolve("raw.bin"), s"payload of $r")
      }
    }

  private def freshCfg(command: Seq[String], quietS: Int = 0,
      extra: GraftConfig => GraftConfig = identity): GraftConfig = {
    val root = Files.createTempDirectory("graft-pipe")
    mkTree(root.resolve("watch"), Map(
      "plate one" -> Seq("runA", "runB"),
      "plate_two" -> Seq("runC")))
    extra(GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = quietS,
      command = command))
  }

  test("full cycle: discover, convert, archive, ledger, history") {
    val cfg = freshCfg(copyCmd)
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    val r = PipelineRunner.runCycle(spark, cfg, t0)
    assert(r.discovered == 3 && r.pending == 3 && r.ready == 3)
    assert(r.stats.total == 3 && r.stats.failed == 0 && r.stats.succeeded == 3)

    // converted outputs exist with the timestamped naming contract
    val outA = java.nio.file.Paths.get(cfg.outputDir, "plate one", "runA-20260101T000000Z.mzML")
    assert(Files.exists(outA), s"missing $outA")
    assert(Files.readString(outA) == "payload of runA")

    // archives committed (no .partial left behind)
    val archDir = java.nio.file.Paths.get(cfg.archiveDir, "plate one")
    val tars = Files.list(archDir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(tars.exists(t => t.startsWith("runA-") && t.endsWith(".tar.gz")), tars.toString)
    assert(!tars.exists(_.endsWith(".partial")))

    // ledger + history populated
    val ledger = new LedgerStore(spark, cfg.stateDir)
    assert(ledger.converted.count() == 3)
    assert(PipelineRunner.history(spark, cfg).count() == 3)
  }

  test("idempotency: second cycle over a processed tree converts nothing") {
    val cfg = freshCfg(copyCmd)
    PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:00:00Z"))
    val r2 = PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:05:00Z"))
    assert(r2.discovered == 3)
    assert(r2.pending == 0, "anti-join must drop already-converted runs")
    assert(r2.ready == 0 && r2.stats.total == 0)
  }

  test("quiescence: runs gated until size stable for quietS") {
    val cfg = freshCfg(copyCmd, quietS = 120)
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    val r1 = PipelineRunner.runCycle(spark, cfg, t0)
    assert(r1.ready == 0, "first observation starts the clock, nothing ready")
    // 60s later: still inside the quiet window
    val r2 = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(60))
    assert(r2.ready == 0)
    // 130s after first observation: stable long enough
    val r3 = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(130))
    assert(r3.ready == 3 && r3.stats.succeeded == 3)
  }

  test("quiescence: a growing run restarts its clock") {
    val cfg = freshCfg(copyCmd, quietS = 120)
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    PipelineRunner.runCycle(spark, cfg, t0)
    // writer appends to runC between cycles
    val runC = java.nio.file.Paths.get(cfg.watchDir, "plate_two", "runC.d", "raw.bin")
    Files.writeString(runC, "payload of runC plus more")
    val r2 = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(130))
    assert(r2.ready == 2, "grown run must not be ready")
    val r3 = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(260))
    assert(r3.ready == 1, "regrown run ready after its own quiet window")
  }

  test("3-strikes: failing run skipped permanently after maxAttempts") {
    val cfg = freshCfg(failCmd)
    def cycle(minute: Int) =
      try Right(PipelineRunner.runCycle(spark, cfg,
        Instant.parse(f"2026-01-01T00:$minute%02d:00Z")))
      catch { case e: VerifyGate.BatchFailedException => Left(e.getMessage) }

    for (i <- 0 until 3) {
      val r = cycle(i * 5)
      assert(r.isLeft, s"cycle $i: all runs fail => verify gate must fire")
    }
    val ledger = new LedgerStore(spark, cfg.stateDir, cfg.maxAttempts)
    assert(ledger.skipKeys.count() == 3, "all runs at 3 attempts => skip set")
    // 4th cycle: poison-pilled runs never re-enter
    val r4 = cycle(15)
    assert(r4 == Right(PipelineRunner.CycleResult(3, 0, 0, VerifyGate.BatchStats(0, 0, 0))))
  }

  test("skip-on-missing: run deleted between discovery cycles counts skipped") {
    val cfg = freshCfg(copyCmd, quietS = 120)
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    PipelineRunner.runCycle(spark, cfg, t0) // clocks started
    // delete runB before it converts; its clock entry remains
    val runB = java.nio.file.Paths.get(cfg.watchDir, "plate one", "runB.d")
    Files.walk(runB).sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.deleteIfExists(_))
    val r = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(130))
    // runB vanished before this cycle's discovery => only 2 discovered
    assert(r.discovered == 2 && r.stats.succeeded == 2 && r.stats.failed == 0)
  }

  test("archive policy replace keeps exactly one archive per base") {
    val cfg0 = freshCfg(copyCmd, extra = _.copy(archivePolicy = "replace", deleteOrig = false))
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    PipelineRunner.runCycle(spark, cfg0, t0)
    // force re-conversion of runA by clearing the ledger entry
    val conv = java.nio.file.Paths.get(cfg0.stateDir, "converted")
    Files.walk(conv).sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
    PipelineRunner.runCycle(spark, cfg0, t0.plusSeconds(3600))
    val archDir = java.nio.file.Paths.get(cfg0.archiveDir, "plate one")
    val runATars = Files.list(archDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("runA-")).toSeq
    assert(runATars.size == 1, s"replace policy must leave one archive: $runATars")
    assert(runATars.head.contains("T010000Z"), "and it is the newer one")
  }

  test("archive policy skip keeps priors and still writes a new tar") {
    // the reference only deletes priors under 'replace'; 'skip' never deletes
    // and a re-conversion still archives (msconvert_dag.py:385-398 then :400+)
    val cfg = freshCfg(copyCmd) // default archivePolicy = "skip"
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    PipelineRunner.runCycle(spark, cfg, t0)
    val conv = java.nio.file.Paths.get(cfg.stateDir, "converted")
    Files.walk(conv).sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
    PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(3600))
    val archDir = java.nio.file.Paths.get(cfg.archiveDir, "plate one")
    val runATars = Files.list(archDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("runA-")).toSeq
    assert(runATars.size == 2, s"skip policy must keep prior AND write new: $runATars")
  }

  test("config refresh: the poller re-reads config at each cycle start") {
    // mirrors the reference's per-DagRun Jinja Variable re-read: flipping
    // GZIP_OUT between cycles changes the next cycle's output extension
    // without restarting the poller
    val cfg0 = freshCfg(copyCmd)
    var calls = 0
    val cfgFn = () => {
      calls += 1
      if (calls >= 2) {
        val d = java.nio.file.Paths.get(cfg0.watchDir, "plate_two", "runD.d")
        if (!Files.exists(d)) {
          Files.createDirectories(d)
          Files.writeString(d.resolve("raw.bin"), "payload of runD")
        }
        cfg0.copy(gzipOut = true)
      } else cfg0
    }
    val res = new graft.streaming.PipelinePoller(spark, cfgFn, 0).run(2)
    assert(res.size == 2 && res.forall(_.isRight))
    val outDir = java.nio.file.Paths.get(cfg0.outputDir, "plate_two")
    val outs = Files.list(outDir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(outs.exists(n => n.startsWith("runC-") && n.endsWith(".mzML")),
      s"cycle 1 output plain: $outs")
    assert(outs.exists(n => n.startsWith("runD-") && n.endsWith(".mzML.gz")),
      s"cycle 2 must honor the flipped GZIP_OUT: $outs")
  }

  test("archive size metrics recorded in history (compression panel input)") {
    val cfg = freshCfg(copyCmd)
    PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:00:00Z"))
    import org.apache.spark.sql.functions._
    val h = PipelineRunner.history(spark, cfg)
      .where(col("archived"))
      .agg(min(col("origBytes")).as("minOrig"), min(col("archiveBytes")).as("minArc"),
        count(lit(1)).as("n"))
      .head()
    assert(h.getAs[Long]("n") == 3)
    assert(h.getAs[Long]("minOrig") > 0, "source dir bytes must be recorded")
    assert(h.getAs[Long]("minArc") > 0, "committed tar bytes must be recorded")
  }

  test("deleteOrig removes the source run after archive") {
    val cfg = freshCfg(copyCmd, extra = _.copy(deleteOrig = true))
    PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:00:00Z"))
    val runA = java.nio.file.Paths.get(cfg.watchDir, "plate one", "runA.d")
    assert(!Files.exists(runA), "original must be deleted after successful archive")
  }

  test("pool width: ready runs convert up to poolSlots at once, never more") {
    // each conversion holds a slot marker while it sleeps and logs how many
    // markers exist after taking its own: the conversions running right then
    val root = Files.createTempDirectory("graft-pool")
    val slots = Files.createDirectories(root.resolve("slots"))
    val seen = root.resolve("seen.log")
    val slotCmd = Seq("/bin/sh", "-c",
      s"""mkdir "$slots/$$BASE" && ls "$slots" | wc -l >> "$seen"; sleep 0.4; """ +
        s"""rmdir "$slots/$$BASE"; cat "$$IN"/* > "$$OUTDIR/$$OUTFILE"""")
    mkTree(root.resolve("watch"), Map("p1" -> Seq("r1", "r2", "r3", "r4"), "p2" -> Seq("r5", "r6")))
    val cfg = GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0, poolSlots = 3, command = slotCmd)
    val r = PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:00:00Z"))
    assert(r.ready == 6 && r.stats.succeeded == 6)
    val peak = Files.readAllLines(seen).asScala.map(_.trim.toInt).max
    assert(peak > 1, "a batch of >= poolSlots ready runs must convert in parallel")
    assert(peak <= cfg.poolSlots, s"at most poolSlots conversions at once, saw $peak")
  }

  test("empty cycles: no plates, or plates without runs, return zeros without blocking") {
    val layouts: Seq[Path => Unit] = Seq(
      _ => (),
      watch => {
        val plate = Files.createDirectories(watch.resolve("plate one"))
        Files.createDirectories(plate.resolve("not-a-run"))
        Files.writeString(plate.resolve("notes.txt"), "no runs here")
      })
    for (layout <- layouts) {
      val root = Files.createTempDirectory("graft-empty")
      val watch = Files.createDirectories(root.resolve("watch"))
      layout(watch)
      val cfg = GraftConfig(
        watchDir = watch.toString,
        outputDir = root.resolve("out").toString,
        archiveDir = root.resolve("arch").toString,
        stateDir = root.resolve("state").toString,
        quietS = 0, command = copyCmd)
      // an observed plan that never executes would block the cycle forever
      val r = Await.result(Future(
        PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T00:00:00Z"))), 2.minutes)
      assert(r == PipelineRunner.CycleResult(0, 0, 0, VerifyGate.BatchStats(0, 0, 0)))
    }
  }

  test("history backfill: files without origBytes/archiveBytes read those as 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-hist")
    val cfg = GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString)
    val hist = s"${cfg.stateDir}/history"
    def status(base: String, orig: Long, arc: Long) =
      RunStatus(base, "p", s"/in/$base.d", s"$base.mzML", "success", "",
        new Timestamp(0L), new Timestamp(60000L), archived = true, orig, arc)
    // an older engine's file, written before the byte columns existed
    Seq(status("old", 0L, 0L)).toDF().drop("origBytes", "archiveBytes")
      .withColumn("cycleTs", lit(new Timestamp(1000L)))
      .write.parquet(hist)
    Seq(status("new", 1000L, 400L)).toDF()
      .withColumn("cycleTs", lit(new Timestamp(2000L)))
      .write.mode("append").parquet(hist)

    val h = PipelineRunner.history(spark, cfg)
    val bytes = h.select("base", "origBytes", "archiveBytes").as[(String, Long, Long)]
      .collect().map { case (b, o, a) => b -> (o, a) }.toMap
    assert(bytes == Map("old" -> (0L, 0L), "new" -> (1000L, 400L)))
    val comp = RunAnalytics.compressionRatio(h).head()
    assert(comp.getAs[Long]("orig_bytes") == 1000L && comp.getAs[Long]("archive_bytes") == 400L)
    assert(comp.getAs[Double]("saved_pct") == 60.0)
  }

  test("no growth per cycle: nothing left persisted, one parquet file per table") {
    val cfg = freshCfg(copyCmd)
    def parquetFiles(table: String): Long = {
      val p = Paths.get(cfg.stateDir, table)
      if (!Files.exists(p)) 0L
      else { val s = Files.walk(p); try s.filter(_.toString.endsWith(".parquet")).count() finally s.close() }
    }
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // the session is shared by every suite: count only what the cycles add
    val before = persisted
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    for (k <- 0 until 5) {
      // one new run per cycle, so every cycle converts and writes both tables
      val run = Files.createDirectories(Paths.get(cfg.watchDir, "plate_two", s"new$k.d"))
      Files.writeString(run.resolve("raw.bin"), s"payload of new$k")
      val (conv0, hist0) = (parquetFiles("converted"), parquetFiles("history"))
      val r = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(300L * k))
      assert(r.stats.succeeded == (if (k == 0) 4 else 1))
      assert((persisted -- before).isEmpty, s"cycle $k left RDDs persisted")
      assert(parquetFiles("converted") == conv0 + 1, s"cycle $k: one converted file")
      assert(parquetFiles("history") == hist0 + 1, s"cycle $k: one history file")
    }
  }
}
