package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.StateTable

/** Engine-owned state tables replacing the reference's filesystem sentinels
  * and output-dir globs (SURVEY.md §7.2.e, hard part #3).
  *
  *   - `converted`: (base, plateRel, outfile, ts) — one row per successful
  *     conversion; existence ⇒ "done" exactly like the reference's
  *     `{base}-*.{ext}` glob (dags/msconvert_dag.py:112-122). Append-only.
  *   - `attempts`: (base, plateRel, attempts) — the cross-run failure counter
  *     the reference keeps in `.attempts` files (:145-152). Rows reaching
  *     `maxAttempts` are the permanent skip set (`.skip` sentinel, :153-158).
  *     Snapshot-swap updated.
  *
  * Both are read with declared schemas (no footer-inference job per read).
  * The cycle's statuses arrive as a driver-held batch (at most MAX_MAP rows),
  * so the empty checks ahead of each write cost no Spark job; the tables
  * themselves grow without bound and stay distributed.
  *
  * Scale note: at 100 TB both are partitioned tables and the attempts update
  * becomes a MERGE in a table format with transactions (Delta/Iceberg); the
  * API here (appendConverted / recordFailures / keys) is the seam — callers
  * never see the storage layout. The snapshot swap (graft.StateTable) uses
  * temp-dir + atomic rename, the same commit protocol as the archive sink
  * (local-FS assumption documented there).
  */
final class LedgerStore(spark: SparkSession, stateDir: String, maxAttempts: Int = 3) {
  import spark.implicits._
  import LedgerStore._

  private val convertedPath = s"$stateDir/converted"
  private val attemptsPath = s"$stateDir/attempts"

  def converted: DataFrame = StateTable.read(spark, convertedPath, ConvertedSchema)

  def attempts: DataFrame = StateTable.read(spark, attemptsPath, AttemptsSchema)

  /** Keys already converted (A6 anti-join right side). */
  def convertedKeys: DataFrame = converted.select("base", "plateRel")

  /** Keys permanently skipped — attempts >= maxAttempts (`.skip` semantics). */
  def skipKeys: DataFrame =
    attempts.where(col("attempts") >= maxAttempts).select("base", "plateRel")

  /** Keys never to convert again: converted ∪ skipped. No distinct — an
    * anti-join's result does not depend on duplicate right-side keys, so the
    * union needs no shuffle.
    */
  def doneKeys: DataFrame = convertedKeys.union(skipKeys)

  /** Record successful conversions (append-only, idempotent downstream via
    * the anti-join). One parquet file per cycle.
    */
  def appendConverted(statuses: Seq[RunStatus]): Unit = {
    val rows = statuses.filter(_.state == "success")
      .map(s => Converted(s.base, s.plateRel, s.outfile, s.endTs))
    if (rows.nonEmpty)
      rows.toDF().coalesce(1).write.mode(SaveMode.Append).parquet(convertedPath)
  }

  /** Increment attempt counters for this cycle's failures — the
    * _on_convert_failure semantics (read counter, +1; at maxAttempts the row
    * becomes part of skipKeys; reference also deletes the counter file on
    * skip, which a row-based ledger doesn't need). The merge is one
    * union + group-by over the live snapshot, which holds one row per key.
    */
  def recordFailures(statuses: Seq[RunStatus]): Unit = {
    val failed = statuses.filter(_.state == "failed")
      .groupBy(s => (s.base, s.plateRel))
      .map { case ((base, plateRel), fs) => Attempt(base, plateRel, fs.size) }.toSeq
    if (failed.isEmpty) return
    val updated = attempts.union(failed.toDF())
      .groupBy("base", "plateRel")
      .agg(sum(col("attempts")).cast("int").as("attempts"))
    StateTable.swap(updated, attemptsPath)
  }
}

object LedgerStore {
  final case class Converted(base: String, plateRel: String, outfile: String, ts: Timestamp)
  final case class Attempt(base: String, plateRel: String, attempts: Int)

  private val ConvertedSchema: StructType = StateTable.schemaOf[Converted]
  private val AttemptsSchema: StructType = StateTable.schemaOf[Attempt]
}
