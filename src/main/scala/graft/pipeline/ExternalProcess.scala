package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The external-process transform — operator A13 (dags/msconvert_dag.py:
  * 249-343), the reference's per-run `msconvert` invocation reduced to its
  * portable contract: run a command with env {IN, BASE, STEM, OUTFILE,
  * PLATE_REL, OUTDIR}; success = exit code 0 AND the expected output file
  * exists. (Wine-prefix seeding and Docker mounts are site mechanics, not
  * semantics — SURVEY.md §2.A13.)
  *
  * Width rule: a cycle's batch (at most MAX_MAP runs, held on the driver)
  * is sliced into `min(poolSlots, runs)` partitions, one task each; a task
  * runs its rows sequentially, so at most `poolSlots` subprocesses exist at
  * once — cluster-wide the same contract as the reference's Airflow pool of
  * 4 (docker-compose.yml:74) — and a batch of at least `poolSlots` runs uses
  * every slot. The width is set where the rows are sliced: `coalesce` only
  * merges partitions and cannot widen, so coalescing an upstream that
  * arrives as one partition (a sorted, limited batch does) converts
  * serially. The statuses are collected, so no lineage replay re-runs a
  * subprocess. A10 (skip-on-missing) runs at stage entry: a run dir that
  * vanished between discovery and processing is counted `skipped`, never
  * `failed` (:226-228).
  */
object ExternalProcess {

  /** Substitute {TOKEN} placeholders and export the env contract. */
  private[pipeline] def render(template: Seq[String], env: RunEnv): Seq[String] = {
    val subs = Map(
      "{IN}" -> env.in, "{BASE}" -> env.base, "{STEM}" -> env.stem,
      "{OUTFILE}" -> env.outfile, "{PLATE_REL}" -> env.plateRel,
      "{OUTDIR}" -> env.outdir)
    template.map(arg => subs.foldLeft(arg) { case (a, (k, v)) => a.replace(k, v) })
  }

  /** The width rule: tasks for a batch of `rows` on the pool (A17 governor). */
  private[pipeline] def poolWidth(cfg: GraftConfig, rows: Int): Int =
    math.min(math.max(1, cfg.poolSlots), rows)

  def convert(spark: SparkSession, envs: Seq[RunEnv], cfg: GraftConfig): Seq[RunStatus] =
    if (envs.isEmpty) Seq.empty
    else spark.sparkContext
      .parallelize(envs, poolWidth(cfg, envs.size))
      .map(runOne(_, cfg))
      .collect().toSeq

  private def runOne(e: RunEnv, cfg: GraftConfig): RunStatus = {
    val start = new Timestamp(System.currentTimeMillis())
    def done(state: String, msg: String, archived: Boolean = false) =
      RunStatus(e.base, e.plateRel, e.in, e.outfile, state, msg,
        start, new Timestamp(System.currentTimeMillis()), archived)

    // A10: input vanished since discovery → skip, not fail
    if (!Files.isDirectory(Paths.get(e.in)))
      return done("skipped", s"input disappeared: ${e.in}")

    try {
      val outdir = Paths.get(e.outdir)
      Files.createDirectories(outdir)
      // write-test before the expensive conversion (:316-321)
      val probe = outdir.resolve(s".write_test_${e.stem}")
      try { Files.writeString(probe, "ok"); Files.delete(probe) }
      catch {
        case ex: java.io.IOException =>
          return done("failed", s"outdir not writable: ${ex.getMessage}")
      }

      val cmd = render(cfg.command, e)
      if (cmd.isEmpty) return done("failed", "no command configured")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.environment().putAll(Map(
        "IN" -> e.in, "BASE" -> e.base, "STEM" -> e.stem,
        "OUTFILE" -> e.outfile, "PLATE_REL" -> e.plateRel,
        "OUTDIR" -> e.outdir).asJava)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val output = new String(proc.getInputStream.readAllBytes())
      val rc = proc.waitFor()

      val expected = outdir.resolve(e.outfile)
      if (rc != 0)
        done("failed", s"rc=$rc: ${output.takeRight(500)}")
      else if (!Files.exists(expected))
        done("failed", s"rc=0 but expected output missing: $expected")
      else
        done("success", "")
    } catch {
      case ex: Exception => done("failed", s"${ex.getClass.getSimpleName}: ${ex.getMessage}")
    }
  }
}
