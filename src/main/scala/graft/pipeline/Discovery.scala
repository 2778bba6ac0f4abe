package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Discovery source — operators A1-A8 (dags/msconvert_dag.py:175-221).
  *
  * Listing is two-level: the driver lists plate directories (one cheap
  * readdir), then the per-plate run listing fans out across executors —
  * the parallel-listing shape that holds at 100 TB where a single
  * driver-side walk would not (SURVEY.md §7.4.5). Filters (is-dir, `.d`
  * suffix, output/archive exclusion) run inside the listing closure so no
  * non-run path is ever shuffled.
  */
object Discovery {

  /** A1-A5: list runs as RunRecord(path, plateRel, base). */
  def discover(spark: SparkSession, cfg: GraftConfig): Dataset[RunRecord] = {
    import spark.implicits._
    val plates = listPlates(cfg)
    if (plates.isEmpty) spark.emptyDataset[RunRecord]
    else listing(spark, cfg, plates)
  }

  /** A1-A9 input as one Spark action: the distributed listing, the ledger
    * anti-join, the sorted MAX_MAP cap, and each capped run's recursive byte
    * size observed on the executors. Returns how many runs the listing found
    * — an Observation on the listing, so no second pass — and the capped
    * batch (at most `maxMap` rows), collected to the driver.
    */
  def pendingBatch(
      spark: SparkSession,
      ledger: LedgerStore,
      cfg: GraftConfig): (Long, Seq[(RunRecord, Long)]) = {
    import spark.implicits._
    val plates = listPlates(cfg)
    // no plates, no action: an observed plan that never runs never reports
    if (plates.isEmpty) return (0L, Seq.empty)
    val listed = Observation("listed")
    val batch = dedup(listing(spark, cfg, plates).observe(listed, count(lit(1)).as("runs")),
        ledger, cfg)
      .map(r => (r, dirSizeBytes(Paths.get(r.path))))
      .collect().toSeq
    (listed.get("runs").asInstanceOf[Long], batch)
  }

  /** A1-A4 on the driver: one readdir of the watch dir, sorted. */
  private def listPlates(cfg: GraftConfig): Seq[String] = {
    val watch = Paths.get(cfg.watchDir)
    // A4: never rescan our own outputs (reference compares names, :197-199)
    val excluded = Set(Paths.get(cfg.outputDir).getFileName.toString,
      Paths.get(cfg.archiveDir).getFileName.toString)
    if (!Files.isDirectory(watch)) Seq.empty
    else listDir(watch)
      .filter(Files.isDirectory(_)) // A2
      .filterNot(p => excluded.contains(p.getFileName.toString))
      .map(_.toString).sorted
  }

  /** Per-plate run listing on executors. `createDataset` slices the plate
    * list `min(plates, defaultParallelism)` ways, which is the listing
    * width; no shuffle is needed to fan it out.
    */
  private def listing(spark: SparkSession, cfg: GraftConfig, plates: Seq[String]): Dataset[RunRecord] = {
    import spark.implicits._
    spark.createDataset(plates).flatMap { plateStr =>
      val plate = Paths.get(plateStr)
      val plateRel = Paths.get(cfg.watchDir).relativize(plate).toString
      listRuns(plate).map { run =>
        val name = run.getFileName.toString
        RunRecord(run.toString, plateRel, name.dropRight(2)) // A5: strip ".d"
      }
    }
  }

  /** One level of `.d` directories inside a plate (A2, A3). */
  private def listRuns(plate: Path): Seq[Path] =
    if (!Files.isDirectory(plate)) Seq.empty
    else listDir(plate)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.endsWith(".d"))

  /** Strict directory listing that closes the underlying Files.list stream
    * (JDK requires explicit close for timely fd disposal — a long-running
    * poller would otherwise leak one handle per cycle per directory).
    */
  private def listDir(p: Path): Seq[Path] = {
    val stream = Files.list(p)
    try stream.iterator().asScala.toList finally stream.close()
  }

  /** A6-A8: dedup anti-join against the converted ledger + skip set, then the
    * deterministic sorted batch cap (pending.sort()[:MAX_MAP], :212-220).
    *
    * The ledger join replaces the reference's per-run glob of the output dir
    * (:112-122) — same keys (base, plate_rel), O(1) scans instead of
    * O(pending) filesystem globs, and it broadcasts when small / shuffles on
    * the composite key when not.
    */
  def dedup(
      discovered: Dataset[RunRecord],
      ledger: LedgerStore,
      cfg: GraftConfig): Dataset[RunRecord] = {
    val spark = discovered.sparkSession
    import spark.implicits._
    discovered
      .join(ledger.doneKeys, Seq("base", "plateRel"), "left_anti")
      .as[RunRecord]
      .orderBy(col("path"))
      .limit(cfg.maxMap)
  }

  /** Recursive byte size tolerant of concurrent deletion
    * (dir_size_bytes, dags/msconvert_dag.py:78-88).
    */
  def dirSizeBytes(p: Path): Long = {
    var total = 0L
    try {
      val stream = Files.walk(p)
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val f = it.next()
          try { if (Files.isRegularFile(f)) total += Files.size(f) }
          catch { case _: java.io.IOException => () } // vanished mid-walk
        }
      } finally stream.close()
    } catch { case _: java.io.IOException => () }
    total
  }
}
