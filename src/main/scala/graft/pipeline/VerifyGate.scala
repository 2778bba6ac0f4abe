package graft.pipeline

/** Batch verify gate — operator A16 (dags/msconvert_dag.py:441-474).
  *
  * Counts per-row outcomes, clamps the failure threshold to the batch size
  * (`min(FAIL_THRESHOLD, total)`), and fails the batch when every row failed
  * (the "check mounts" systemic-failure case) or failures exceed the
  * threshold. Skips are excluded from the failure count, exactly as the
  * reference counts states.
  */
object VerifyGate {

  final case class BatchStats(total: Long, failed: Long, skipped: Long) {
    def succeeded: Long = total - failed - skipped
    def threshold(failThreshold: Int): Long = math.min(failThreshold.toLong, total)
  }

  final class BatchFailedException(msg: String) extends RuntimeException(msg)

  /** Outcome counts of a driver-held batch — no Spark job. */
  def stats(statuses: Seq[RunStatus]): BatchStats =
    BatchStats(statuses.size, statuses.count(_.state == "failed"),
      statuses.count(_.state == "skipped"))

  /** Throws BatchFailedException per the reference's rules; no-op on empty
    * batches (total=0 means nothing to verify, not all-failed).
    */
  def check(st: BatchStats, failThreshold: Int): Unit = {
    if (st.total == 0) return
    if (st.failed == st.total)
      throw new BatchFailedException(
        s"all ${st.total} conversions failed — check mounts/config")
    val thr = st.threshold(failThreshold)
    if (st.failed > thr)
      throw new BatchFailedException(
        s"${st.failed} failures exceed threshold $thr (total=${st.total}, skipped=${st.skipped})")
  }
}
