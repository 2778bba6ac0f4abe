package graft.pipeline

import java.io.BufferedOutputStream
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.util.zip.GZIPOutputStream
import scala.jdk.CollectionConverters._
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.spark.sql.SparkSession

/** Archive sink — operator A15 (dags/msconvert_dag.py:345-439): tar the
  * original run dir, commit atomically via `.partial` temp + rename, honor
  * the skip|replace policy, optionally delete the original.
  *
  * Runs under ALL_DONE semantics: it maps over every status row (success or
  * not) and the output-existence guard does the real gating (:362-379) — a
  * failed conversion flows through un-archived instead of aborting the batch.
  *
  * Atomic-rename is atomic on local/HDFS filesystems only; on object stores
  * this seam (`commitTar`) is where a real commit protocol goes
  * (SURVEY.md §7.4.4).
  */
object ArchiveSink {

  /** Archives the batch at the convert stage's width (`min(poolSlots, rows)`
    * tasks) and collects the updated statuses, so a replay never re-tars.
    */
  def archive(spark: SparkSession, statuses: Seq[RunStatus], cfg: GraftConfig,
      now: Instant): Seq[RunStatus] =
    if (!cfg.archiveOrig || statuses.isEmpty) statuses
    else spark.sparkContext
      .parallelize(statuses, ExternalProcess.poolWidth(cfg, statuses.size))
      .map(archiveOne(_, cfg, now))
      .collect().toSeq

  private def archiveOne(s: RunStatus, cfg: GraftConfig, now: Instant): RunStatus = {
    // guard: only archive runs whose expected converted output exists (:362-379)
    val outPath = Paths.get(
      if (s.plateRel.isEmpty) cfg.outputDir else s"${cfg.outputDir}/${s.plateRel}",
      s.outfile)
    if (s.state != "success" || !Files.exists(outPath)) return s
    val src = Paths.get(s.in)
    if (!Files.isDirectory(src)) return s

    try {
      val destDir = Paths.get(
        if (s.plateRel.isEmpty) cfg.archiveDir else s"${cfg.archiveDir}/${s.plateRel}")
      Files.createDirectories(destDir)
      val ext = if (cfg.archiveGzip) ".tar.gz" else ".tar"
      // policy gates only the deletion of priors; a new timestamped tar is
      // written either way (:385-398 delete under replace, then :400+
      // unconditionally archives)
      if (cfg.archivePolicy == "replace")
        existingArchives(destDir, s.base).foreach(Files.deleteIfExists)
      val origBytes = Discovery.dirSizeBytes(src) // src_bytes (:400)
      val fin = destDir.resolve(s"${s.base}-${Naming.tsUtc(now)}$ext")
      val tmp = destDir.resolve(fin.getFileName.toString + ".partial")
      try {
        writeTar(src, tmp, cfg.archiveGzip)
        commitTar(tmp, fin) // atomic publish (:408-416)
      } catch {
        case ex: Exception => Files.deleteIfExists(tmp); throw ex // (:432-437)
      }
      val archiveBytes = Files.size(fin) // arc_size (:417)
      if (cfg.deleteOrig) deleteRecursive(src) // (:426-431)
      s.copy(archived = true, origBytes = origBytes, archiveBytes = archiveBytes)
    } catch {
      case ex: Exception =>
        s.copy(message = (s.message + s" [archive failed: ${ex.getMessage}]").trim)
    }
  }

  /** Prior archives of this base: `{base}-*.tar[.gz]` (:391-393). */
  private def existingArchives(dir: Path, base: String): Seq[Path] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith(base + "-") && (n.endsWith(".tar") || n.endsWith(".tar.gz"))
    }.toList
    finally stream.close()
  }

  private def writeTar(src: Path, dest: Path, gzip: Boolean): Unit = {
    val raw = new BufferedOutputStream(Files.newOutputStream(dest))
    val out = new TarArchiveOutputStream(if (gzip) new GZIPOutputStream(raw) else raw)
    out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    try {
      val stream = Files.walk(src)
      try stream.iterator().asScala.foreach { p =>
        val rel = src.getParent.relativize(p).toString
        if (Files.isRegularFile(p)) {
          val e = new TarArchiveEntry(p.toFile, rel)
          out.putArchiveEntry(e)
          Files.copy(p, out)
          out.closeArchiveEntry()
        } else if (Files.isDirectory(p)) {
          out.putArchiveEntry(new TarArchiveEntry(p.toFile, rel + "/"))
          out.closeArchiveEntry()
        }
      } finally stream.close()
      out.finish()
    } finally out.close()
  }

  /** The atomic-publish seam. Local FS / HDFS: rename. Object stores would
    * plug a manifest-commit here.
    */
  private def commitTar(tmp: Path, fin: Path): Unit =
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
      finally stream.close()
    }

  private[pipeline] def listArchives(dir: Path, base: String): Seq[Path] =
    if (Files.isDirectory(dir)) existingArchives(dir, base) else Seq.empty
}
