package graft.dq

import org.apache.spark.sql.SparkSession

import graft.lake.SnapshotIncremental

/** Incremental data quality — the operational loop a lakehouse runs
  * nightly, composing three existing modules: [[SnapshotIncremental]]
  * (consume ONLY the commits newer than a checkpoint),
  * [[VerificationSuite]] (one fused agg pass per batch), and
  * [[MetricsRepository]] (run-over-run history + anomaly detection).
  * The reference re-verifies the full frame on every Glue run
  * (`jobs/ev_sessions_silver_etl_clean.py:132-164` gates each load on
  * a whole-frame Deequ pass); at 100 TB that is a nightly full scan.
  * Verifying the appended rows alone keeps the scan O(new data) while
  * the metric history still catches whole-population anomalies —
  * volume collapse, completeness erosion — as drift between batches.
  */
object IncrementalDq {

  final case class BatchReport(fromVersion: Long, toVersion: Long,
      status: String, result: VerificationResult,
      drifts: Seq[MetricsRepository.Drift])

  /** Verify everything committed since the checkpoint; returns one
    * report per consumed range (empty = nothing new).
    *
    * Each range: a VerificationSuite pass over just the added rows,
    * metrics appended to the snapshot repository at `metricsPath`
    * (dataset = `tablePath`, run tag = the zero-padded range-end
    * version), then drift of each metric vs the previous appended run
    * at `driftTolerance` relative change — the one-run window of
    * [[MetricsRepository.anomalies]], NaN counting as moved. With
    * `maxVersionsPerBatch` a long backlog is consumed (and
    * checkpointed) in bounded sub-ranges, each its own run — so the
    * drift baseline granularity stays commit-sized even after a pause.
    *
    * The checkpoint advances whether or not checks pass: DQ observes
    * and reports; gating (quarantine, abort, alert) is the caller's
    * decision from the returned status — re-verifying the same rows
    * nightly would not make them cleaner. A thrown error (source
    * unreadable) does NOT advance, and the batch replays next call.
    */
  def run(spark: SparkSession, tablePath: String, checkpointDir: String,
      metricsPath: String, checks: Seq[Check],
      driftTolerance: Double = 0.5,
      maxVersionsPerBatch: Option[Long] = None): Seq[BatchReport] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[BatchReport]
    SnapshotIncremental.processNew(spark, tablePath, checkpointDir,
        SnapshotIncremental.AppendOnly, maxVersionsPerBatch) { (df, from, to) =>
      val vr = VerificationSuite.run(df, checks)
      val tag = f"v$to%012d"
      MetricsRepository.appendRun(spark, metricsPath, tablePath, tag, vr)
      out += BatchReport(from, to, vr.status, vr,
        MetricsRepository.anomalies(spark, metricsPath, tablePath, tag,
          window = 1, maxSigma = 0.0, minRelDelta = driftTolerance)
          .map(MetricsRepository.Drift(_)))
    }
    out.toSeq
  }
}
