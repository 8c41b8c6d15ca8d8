package graft.dq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run-over-run metric history + anomaly detection — the Deequ
  * MetricsRepository shape: every VerificationSuite (or profile) run
  * appends its metrics, keyed by (dataset, run_tag), and later runs
  * compare each metric with the runs before it ([[anomalies]]).
  * Catches the silent failures a single-run check can't (e.g. row
  * count halves but every constraint still passes).
  *
  * Storage is a SNAPSHOT TABLE: each run lands one commit of
  * (dataset, run_tag, check, constraint, metric, success, run_seq)
  * rows, so the metric history gets the full table contract for free
  * — time travel ("what did quality look like last Tuesday"), CDC
  * (stream the metric feed), retention, and the commit-time policies
  * for the one-small-file-per-run ingest shape this produces. One
  * repository table serves every dataset of a pipeline. A directory
  * of plain parquet (the repository's earlier storage: run rows
  * without dataset or run_seq, and no snapshot log) is not read. */
object MetricsRepository {

  /** One run's rows: (check, constraint, metric, success). */
  private type RunRows = Seq[(String, String, Double, Boolean)]

  private def resultRows(result: VerificationResult): RunRows =
    for {
      cr <- result.checkResults
      c <- cr.results
    } yield (cr.description, c.constraint, c.metric, c.success)

  /** A column PROFILE run's rows (check = "__profile"), one per
    * (column, statistic) — so the trailing-window [[anomalies]] check
    * covers schema-level statistics too, not just constraint metrics:
    * a column whose distinct count collapses or whose mean walks off
    * passes every boolean check and still trips here. Numeric-only
    * statistics are simply absent for non-numeric columns (no NaN
    * padding — an absent constraint never joins the anomaly window). */
  private def profileRows(profiles: Seq[Profiler.ColumnProfile]): RunRows =
    profiles.flatMap { p =>
      Seq(
        ("__profile", s"Completeness(${p.column})", p.completeness, true),
        ("__profile", s"Distinctness(${p.column})", p.distinctCount.toDouble, true),
        ("__profile", s"Size(${p.column})", p.rowCount.toDouble, true)) ++
        p.minValue.map(v => ("__profile", s"Minimum(${p.column})", v, true)) ++
        p.maxValue.map(v => ("__profile", s"Maximum(${p.column})", v, true)) ++
        p.mean.map(v => ("__profile", s"Mean(${p.column})", v, true))
    }

  /** Persist one VerificationSuite run; returns its committed version. */
  def appendRun(spark: SparkSession, tablePath: String, dataset: String,
      runTag: String, result: VerificationResult): Long =
    appendRuns(spark, tablePath, dataset, Seq(runTag -> result)).head

  /** Persist one column profile run (see [[profileRows]]). */
  def appendProfile(spark: SparkSession, tablePath: String, dataset: String,
      runTag: String, profiles: Seq[Profiler.ColumnProfile]): Long =
    appendProfileRuns(spark, tablePath, dataset, Seq(runTag -> profiles)).head

  /** Batched [[appendRun]]: N runs' metric rows land as N ordered
    * commits sharing ONE Spark write job
    * ([[graft.lake.SnapshotTable.appendBatch]]) — the tiny-commit
    * optimization for the gates that persist a whole day-series in a
    * loop (q137's 5 runs, q142's 12). Run r is stamped run_seq
    * base + r (monotone, exactly what [[anomalies]] orders by; commit
    * versions may run ahead when auto-compaction interleaves, which
    * [[nextRunSeq]]'s contract explicitly allows). On a fresh
    * repository the FIRST run commits alone and arms auto-compaction
    * — the repository's ingest shape is one tiny file per run,
    * forever, and compaction's merges are row-preserving (history
    * counts, anomaly windows and time travel are unaffected) — so the
    * policy is live across the remaining commits exactly as
    * sequential appends would see it. Returns each run's committed
    * version, in run order. */
  def appendRuns(spark: SparkSession, tablePath: String, dataset: String,
      runs: Seq[(String, VerificationResult)]): Seq[Long] =
    appendStamped(spark, tablePath, dataset,
      runs.map { case (tag, r) => tag -> resultRows(r) })

  /** Batched [[appendProfile]] — same contract as [[appendRuns]]. */
  def appendProfileRuns(spark: SparkSession, tablePath: String,
      dataset: String,
      runs: Seq[(String, Seq[Profiler.ColumnProfile])]): Seq[Long] =
    appendStamped(spark, tablePath, dataset,
      runs.map { case (tag, ps) => tag -> profileRows(ps) })

  private def appendStamped(spark: SparkSession, tablePath: String,
      dataset: String, runs: Seq[(String, RunRows)]): Seq[Long] = {
    import spark.implicits._
    require(runs.nonEmpty, "appendRuns needs at least one run")
    def frame(runTag: String, rows: RunRows, seq: Long): DataFrame =
      rows.map { case (ch, c, m, s) => (dataset, runTag, ch, c, m, s, seq) }
        .toDF("dataset", "run_tag", "check", "constraint", "metric",
          "success", "run_seq").coalesce(1)
    var base = nextRunSeq(spark, tablePath)
    var rest = runs
    var head = Seq.empty[Long]
    if (base == 0L) {
      val (tag, rows) = rest.head
      head = Seq(graft.lake.SnapshotTable.append(frame(tag, rows, 0L), tablePath))
      graft.lake.SnapshotTable.setAutoCompact(spark, tablePath,
        minSmallFiles = 8, smallFileRows = 100000L)
      base = nextRunSeq(spark, tablePath)
      rest = rest.tail
    }
    if (rest.isEmpty) head
    else {
      val frames = rest.zipWithIndex.map { case ((tag, rows), i) =>
        frame(tag, rows, base + i)
      }
      head ++ graft.lake.SnapshotTable.appendBatch(frames, tablePath)
    }
  }

  /** Monotone per-append sequence a run's rows are stamped with: the
    * table version this append will land at (or later, under
    * contention — only monotonicity matters). [[anomalies]] orders
    * runs by it instead of by run_tag STRING comparison, which
    * mis-orders the common unpadded conventions ("r10" < "r2",
    * "2026-8-9" > "2026-10-01") exactly when a dataset's history gets
    * long enough for the window to matter. */
  private def nextRunSeq(spark: SparkSession, tablePath: String): Long =
    graft.lake.SnapshotTable.latestVersion(spark, tablePath)
      .map(_ + 1L).getOrElse(0L)

  /** One dataset's full metric history from the snapshot repository. */
  def runHistory(spark: SparkSession, tablePath: String,
      dataset: String): DataFrame =
    graft.lake.SnapshotTable.read(spark, tablePath)
      .filter(col("dataset") === dataset)

  final case class Anomaly(constraint: String, current: Double,
      windowMean: Double, windowStddev: Double)

  /** TRAILING-WINDOW anomaly check (Deequ's OnlineNormalStrategy
    * shape, over the snapshot repository): compare `currentTag`'s
    * metric per constraint against the last `window` runs' mean, and
    * flag when |current − mean| exceeds maxSigma·stddev plus a
    * RELATIVE floor (`minRelDelta`·max(|mean|, 1e-12)) — the sigma
    * term adapts to each metric's own noise, the relative floor keeps
    * a perfectly flat history (stddev 0: row counts on steady ingest,
    * completeness pinned at 1.0) from flagging fp dust, and being
    * relative lets one threshold serve metrics at any magnitude
    * (Size ≈ 10^6 next to Completeness ≈ 1.0). A constraint absent
    * from the current run or from every window run is not compared.
    *
    * NaN (the metric of an empty or all-NULL input) counts as moved:
    * a NaN current metric, or a NaN in the window (whose mean is then
    * NaN), is always flagged — a metric that turns undefined is the
    * kind of silent failure this check exists to catch.
    *
    * At `window = 1`, `maxSigma = 0` this is the run-over-run drift
    * test: the mean is the previous run's metric and the stddev 0, so
    * it flags |current − previous| > minRelDelta·max(|previous|, 1e-12)
    * — what [[IncrementalDq]] reports as drift.
    *
    * One Spark read per call: the dataset's (run_tag, run_seq,
    * constraint, metric) rows, runs × constraints of them, which the
    * repository's auto-compaction keeps in few files; the window and
    * its statistics are computed on the driver. */
  def anomalies(spark: SparkSession, tablePath: String, dataset: String,
      currentTag: String, window: Int = 5, maxSigma: Double = 3.0,
      minRelDelta: Double = 0.1): Seq[Anomaly] = {
    require(window >= 1, "window must be >= 1")
    val h = runHistory(spark, tablePath, dataset)
    // A run's place in the history is the run_seq its append stamped
    // (the latest, for a tag appended twice), never its run_tag's
    // string order, which puts "r10" before "r2" and breaks every
    // unpadded tag convention once a dataset passes 10 runs. A
    // repository written before run_seq existed reads every seq as 0,
    // so its runs fall back to tag order — right exactly when tags
    // are zero-padded (the old documented requirement).
    val seq = if (h.columns.contains("run_seq")) col("run_seq") else lit(0L)
    val byRun = h.select(col("run_tag"), seq, col("constraint"), col("metric"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .groupBy(_._1)
    if (!byRun.contains(currentTag)) return Nil // not persisted yet
    val place = byRun.map { case (tag, rs) => tag -> (rs.map(_._2).max, tag) }
    val now = place(currentTag)
    val win = place.toSeq.filter(p => Ordering[(Long, String)].lt(p._2, now)).sortBy(_._2)
      .takeRight(window).flatMap(p => byRun(p._1))
    val stats = win.groupBy(_._3).map { case (c, rs) =>
      val ms = rs.map(_._4)
      val mean = ms.sum / ms.size
      c -> (mean, math.sqrt(ms.map(m => (m - mean) * (m - mean)).sum / ms.size))
    }
    byRun(currentTag).toSeq.flatMap { case (_, _, c, cur) =>
      stats.get(c).collect { case (m, s)
          if !(math.abs(cur - m) <=
            maxSigma * s + minRelDelta * math.max(math.abs(m), 1e-12)) =>
        Anomaly(c, cur, m, s)
      }
    }.sortBy(_.constraint)
  }

  final case class Drift(constraint: String, previous: Double, current: Double,
      relativeChange: Double)

  object Drift {
    /** A one-run-window [[anomalies]] hit as a drift: the window mean
      * is the previous run's metric. */
    def apply(a: Anomaly): Drift =
      Drift(a.constraint, a.windowMean, a.current,
        math.abs(a.current - a.windowMean) / math.max(math.abs(a.windowMean), 1e-12))
  }
}
