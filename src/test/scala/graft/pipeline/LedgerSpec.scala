package graft.pipeline

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scale behavior of the attempts ledger (SURVEY.md §7.4): recordFailures is
  * a single union + group-by of (ledger ∪ this cycle's failures) — O(failed +
  * ledger) — and must be a no-op on cycles with no failures: the snapshot on
  * disk is not rewritten, so a long-running poller's steady state does zero
  * ledger IO. (At 100 TB the snapshot swap becomes a MERGE in a
  * transactional table format; the API seam is unchanged.)
  */
class LedgerSpec extends SparkSpec {
  import spark.implicits._

  private def status(base: String, state: String): RunStatus =
    RunStatus(base, "p", s"/in/$base.d", s"$base.mzML", state, "",
      new Timestamp(0L), new Timestamp(1000L), archived = false)

  private def snapshotFiles(stateDir: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(stateDir, "attempts")
    if (!Files.isDirectory(p)) Map.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(f =>
        f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toMap
      finally s.close()
    }
  }

  test("recordFailures: empty cycles never rewrite the attempts snapshot") {
    val stateDir = Files.createTempDirectory("graft-ledger").toString
    val ledger = new LedgerStore(spark, stateDir, maxAttempts = 3)
    ledger.recordFailures(Seq(status("a", "failed"), status("b", "failed"),
      status("c", "success")))
    val after1 = snapshotFiles(stateDir)
    assert(after1.nonEmpty, "first failure cycle writes the snapshot")

    // steady state: repeated cycles with no failures must not rewrite
    for (_ <- 1 to 3)
      ledger.recordFailures(Seq(status("c", "success"), status("d", "skipped")))
    assert(snapshotFiles(stateDir) == after1,
      "no-failure cycles must leave the snapshot untouched (same files, same mtimes)")

    val counts = ledger.attempts.collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(counts == Map("a" -> 1, "b" -> 1))
  }

  test("recordFailures: increments accumulate; untouched rows carry over") {
    val stateDir = Files.createTempDirectory("graft-ledger2").toString
    val ledger = new LedgerStore(spark, stateDir, maxAttempts = 3)
    ledger.recordFailures(Seq(status("a", "failed"), status("b", "failed")))
    ledger.recordFailures(Seq(status("a", "failed")))
    ledger.recordFailures(Seq(status("a", "failed"), status("z", "failed")))
    val counts = ledger.attempts.collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(counts == Map("a" -> 3, "b" -> 1, "z" -> 1))
    assert(ledger.skipKeys.as[(String, String)].collect().toSet == Set(("a", "p")),
      "only the 3-strike row enters the skip set")
  }
}
