package graft.pipeline

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
import graft.StateTable

/** One pipeline cycle — the reference's whole DagRun (SURVEY.md §3.1):
  *
  *   discover → dedup(anti-join ledger) → quiescence gate → naming →
  *   external-process convert (≤poolSlots) → archive (ALL_DONE) →
  *   ledger updates → run-history append → verify gate
  *
  * Only the tree listing and the ledger anti-join grow without bound, so
  * only they stay distributed. After the MAX_MAP cap a cycle handles at most
  * `maxMap` runs, and the cycle treats that as a bounded batch held on the
  * driver: discover → dedup → size observation is one Spark action whose
  * capped result is collected (Discovery.pendingBatch); the quiescence
  * decisions, the verify stats and the empty checks ahead of each write are
  * computed from the collected rows without a Spark job.
  *
  * Exactly-once: convert and archive each collect their statuses. A
  * collected result has no lineage left to replay, so no later action
  * re-runs a subprocess or re-tars a run — the guarantee an eager
  * `localCheckpoint` gave, without stranding its storage blocks on the
  * executors every cycle.
  *
  * Batch mode is the micro-batch body; graft.streaming.PipelinePoller wraps
  * it on the reference's 5-minute trigger, and graft.streaming.
  * StreamingPipeline runs the same convert → verify tail (`processBatch`).
  * All cross-cycle state (converted ledger, attempts, quiescence clocks,
  * run history) lives in `stateDir` parquet tables — the Spark replacement
  * for the reference's Airflow metadata DB + sentinel files — and each cycle
  * writes at most one parquet file to each.
  */
object PipelineRunner {

  final case class CycleResult(
      discovered: Long,
      pending: Long,
      ready: Long,
      stats: VerifyGate.BatchStats)

  /** One row of the quiescence clock table (A9 state between cycles). */
  final case class QuietRow(path: String, lastSize: Long, stableSince: Long)

  private val QuietSchema = StateTable.schemaOf[QuietRow]

  /** History rows are the cycle's RunStatus rows stamped with `cycleTs`. */
  private val HistorySchema = StructType(
    StateTable.schemaOf[RunStatus].fields :+ StructField("cycleTs", TimestampType))

  def runCycle(
      spark: SparkSession,
      cfg: GraftConfig,
      now: Instant = Instant.now()): CycleResult = {
    val ledger = new LedgerStore(spark, cfg.stateDir, cfg.maxAttempts)
    val (discovered, pending) = Discovery.pendingBatch(spark, ledger, cfg)
    if (pending.size == cfg.maxMap)
      log.info(s"cycle capped at MAX_MAP=${cfg.maxMap}; remainder next cycle")
    val ready = quiesce(spark, pending, cfg, now)
    val st = processBatch(spark, cfg, ledger, ready, now)
    CycleResult(discovered, pending.size, ready.size, st)
  }

  /** The convert → archive → ledger → history → verify tail shared by batch
    * cycles and streaming micro-batches.
    *
    * A13 + A15 each collect their statuses (exactly-once, see above); A6 +
    * A14 ledger updates and the history append follow; A16 throws on a
    * threshold breach only after all bookkeeping (ALL_DONE ordering).
    */
  private[graft] def processBatch(
      spark: SparkSession,
      cfg: GraftConfig,
      ledger: LedgerStore,
      ready: Seq[RunRecord],
      now: Instant): VerifyGate.BatchStats = {
    val converted = ExternalProcess.convert(spark, ready.map(Naming.runEnv(_, cfg, now)), cfg)
    val statuses = ArchiveSink.archive(spark, converted, cfg, now)
    ledger.appendConverted(statuses)
    ledger.recordFailures(statuses)
    appendHistory(spark, cfg, statuses, now)
    val st = VerifyGate.stats(statuses)
    VerifyGate.check(st, cfg.failThreshold)
    st
  }

  /** Quiescence gate: the batch's observed sizes meet the persisted clock
    * table through the pure Quiescence.advance transition; ready rows flow
    * on, the not-ready clocks are snapshot-swapped for the next cycle. The
    * clock table holds only not-ready rows of a capped batch, so it is
    * bounded by `maxMap` and read to the driver.
    */
  private def quiesce(
      spark: SparkSession,
      pending: Seq[(RunRecord, Long)],
      cfg: GraftConfig,
      now: Instant): Seq[RunRecord] = {
    import spark.implicits._
    val nowS = now.getEpochSecond
    val statePath = s"${cfg.stateDir}/quiet"
    val clocks = StateTable.read(spark, statePath, QuietSchema).as[QuietRow].collect()
      .map(q => q.path -> Quiescence.QuietState(q.lastSize, q.stableSince)).toMap

    val decided = pending.map { case (r, size) =>
      r -> Quiescence.advance(clocks.get(r.path), size, nowS, cfg.quietS)
    }
    val next = decided.collect { case (r, d) if !d.ready =>
      QuietRow(r.path, d.state.lastSize, d.state.stableSinceEpochS)
    }
    StateTable.swap(next.toDF().coalesce(1), statePath)
    decided.collect { case (r, d) if d.ready => r }
  }

  /** Run-history table — the engine's task_instance analog; the B1-B9
    * analytics queries run over it (SURVEY.md §7.2.h).
    */
  private def appendHistory(
      spark: SparkSession, cfg: GraftConfig, statuses: Seq[RunStatus], now: Instant): Unit = {
    import spark.implicits._
    if (statuses.nonEmpty)
      statuses.toDF().coalesce(1)
        .withColumn("cycleTs", lit(new Timestamp(now.toEpochMilli)))
        .write.mode(SaveMode.Append).parquet(s"${cfg.stateDir}/history")
  }

  /** History table, or a schema-correct empty frame if no cycle has written
    * yet — so dashboard queries compile (and return empties) either way.
    *
    * Read with the declared schema and backfill: the history dir is
    * append-only across engine versions, so files written before a RunStatus
    * field existed (e.g. origBytes/archiveBytes) read that column as null,
    * zero-filled here. No footer scan: the dir grows by one file per cycle.
    */
  def history(spark: SparkSession, cfg: GraftConfig): DataFrame =
    StateTable.read(spark, s"${cfg.stateDir}/history", HistorySchema)
      .na.fill(0L, Seq("origBytes", "archiveBytes"))

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
