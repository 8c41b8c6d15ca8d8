package graft.dq

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import MetricsRepository.{Anomaly, Drift}

/** Differential contract for the one "metric moved" rule,
  * [[MetricsRepository.anomalies]] (computed on the driver), against
  * the two rules it replaced. Both are kept below verbatim as
  * references: the plain-parquet repository's `append` + `driftFrom`
  * (run-over-run drift, what [[IncrementalDq]] reports) and the
  * distributed `anomalies` body (the trailing-window check). */
class AnomalyRuleSpec extends SparkTestBase {

  // ---- references: the replaced code, verbatim ----------------------

  private object Reference {

    /** Append one run's constraint metrics. */
    def append(spark: SparkSession, path: String, runTag: String,
        result: VerificationResult): Unit = {
      import spark.implicits._
      val rows = for {
        cr <- result.checkResults
        c <- cr.results
      } yield (runTag, cr.description, c.constraint, c.metric, c.success)
      rows.toDF("run_tag", "check", "constraint", "metric", "success")
        .repartition(1)
        .write.mode("append").parquet(path)
    }

    def history(spark: SparkSession, path: String): DataFrame =
      spark.read.parquet(path)

    /** Compare a run against the latest earlier run (by tag ordering);
      * returns constraints whose metric moved more than `tolerance`
      * relatively. Empty history → no drift. */
    def driftFrom(spark: SparkSession, path: String, currentTag: String,
        tolerance: Double): Seq[Drift] = {
      import spark.implicits._
      val h = history(spark, path)
      val prevTag = h.filter(col("run_tag") < currentTag)
        .agg(max("run_tag")).head().getString(0)
      if (prevTag == null) return Nil
      val prev = h.filter(col("run_tag") === prevTag)
        .select(col("constraint"), col("metric").as("previous"))
      val cur = h.filter(col("run_tag") === currentTag)
        .select(col("constraint"), col("metric").as("current"))
      prev.join(cur, "constraint")
        .withColumn("rel",
          abs(col("current") - col("previous")) /
            greatest(abs(col("previous")), lit(1e-12)))
        .filter(col("rel") > tolerance)
        .select(col("constraint"), col("previous"), col("current"), col("rel"))
        .as[(String, Double, Double, Double)]
        .collect()
        .map(t => Drift(t._1, t._2, t._3, t._4))
        .toSeq
    }

    def anomalies(spark: SparkSession, tablePath: String, dataset: String,
        currentTag: String, window: Int = 5, maxSigma: Double = 3.0,
        minRelDelta: Double = 0.1): Seq[Anomaly] = {
      require(window >= 1, "window must be >= 1")
      val h = MetricsRepository.runHistory(spark, tablePath, dataset)
      // The trailing window is the `window` runs APPENDED most recently
      // before the current run — ordered by the run_seq the append
      // stamped, never by run_tag string comparison (which mis-orders
      // "r10" before "r2" and breaks every unpadded tag convention once
      // a dataset passes 10 runs). Repositories written before run_seq
      // existed fall back to tag ordering, correct exactly when tags
      // are zero-padded/sortable (the old documented requirement).
      val tags: Seq[String] =
        if (h.columns.contains("run_seq")) {
          val seqs = h.groupBy("run_tag").agg(max("run_seq").as("seq"))
            .collect().map(r => (r.getString(0), r.getLong(1)))
          seqs.collectFirst { case (t, s) if t == currentTag => s } match {
            case None => Nil // current run not persisted yet — no window
            case Some(curSeq) => seqs.toSeq
              .filter { case (t, s) => s < curSeq && t != currentTag }
              .sortBy(-_._2).take(window).map(_._1)
          }
        } else
          h.filter(col("run_tag") < currentTag)
            .select("run_tag").distinct()
            .orderBy(col("run_tag").desc).limit(window)
            .collect().map(_.getString(0)).toSeq
      if (tags.isEmpty) return Nil
      val win = h.filter(col("run_tag").isin(tags: _*))
        .groupBy("constraint")
        .agg(avg("metric").as("w_mean"), stddev_pop("metric").as("w_std"))
      h.filter(col("run_tag") === currentTag)
        .select(col("constraint"), col("metric"))
        .join(win, "constraint")
        .collect().toSeq
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .collect { case (c, cur, m, s)
            if math.abs(cur - m) >
              maxSigma * s + minRelDelta * math.max(math.abs(m), 1e-12) =>
          Anomaly(c, cur, m, s)
        }
    }
  }

  // ---- generated histories ------------------------------------------

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-anomaly-$tag").toString

  private def result(metrics: Seq[(String, Double)]): VerificationResult =
    VerificationResult(Seq(CheckResult("gen", CheckLevel.Warning,
      metrics.map { case (c, m) => ConstraintResult(c, m, true) })))

  /** `runs` runs of generated metrics. Run-over-run moves stay far
    * from any tolerance in [0.1, 0.3]: a step factor is 1 ± 0.02 or
    * at least 1 ± 0.5, and the zero-floored metric steps between 0,
    * 1e-14 (under the 1e-12 floor at every such tolerance) and 1e-10.
    * "Noise" is continuous, so a window's bound is never hit exactly.
    * Optional constraints drop out of some runs, and "Once" appears in
    * exactly one run. */
  private def history(rnd: Random, runs: Int): Seq[Seq[(String, Double)]] = {
    val once = rnd.nextInt(runs)
    var size = 100.0 + rnd.nextInt(100)
    var zero = 0.0
    (0 until runs).map { i =>
      if (i > 0) {
        size *= Seq(1.0, 1.02, 0.98, 1.5, 0.5, 2.5)(rnd.nextInt(6))
        zero = Seq(0.0, 1e-14, 1e-10)(rnd.nextInt(3))
      }
      Seq("Size" -> size, "Zero" -> zero,
        "Noise" -> (50.0 + 10.0 * rnd.nextGaussian())) ++
        (if (rnd.nextDouble() < 0.7) Seq("Completeness" -> rnd.nextDouble()) else Nil) ++
        (if (i == once) Seq("Once" -> rnd.nextDouble()) else Nil)
    }
  }

  private def sorted(ds: Seq[Drift]): Seq[Drift] = ds.sortBy(_.constraint)

  /** The drift IncrementalDq reports: the one-run window. */
  private def drifts(path: String, dataset: String, tag: String,
      tolerance: Double): Seq[Drift] =
    MetricsRepository.anomalies(spark, path, dataset, tag,
      window = 1, maxSigma = 0.0, minRelDelta = tolerance).map(Drift(_))

  /** Same flags; means and stddevs equal up to summation order. */
  private def assertSame(got: Seq[Anomaly], want: Seq[Anomaly], clue: String): Unit = {
    val w = want.sortBy(_.constraint)
    assert(got.map(a => (a.constraint, a.current)) ===
      w.map(a => (a.constraint, a.current)), clue)
    got.zip(w).foreach { case (g, r) =>
      def near(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      assert(near(g.windowMean, r.windowMean) && near(g.windowStddev, r.windowStddev),
        s"$clue: $g vs $r")
    }
  }

  test("drift: the one-run window matches driftFrom on generated histories, " +
      "two datasets in one repository") {
    val base = tmp("drift")
    val repo = s"$base/repo"
    val rnd = new Random(7)
    val tolerances = Seq(0.1, 0.3)
    val hs = Seq("a", "b").map(d => d -> history(rnd, 11)).toMap
    var compared = 0
    var flagged = 0
    for (i <- 0 until 11; d <- Seq("a", "b")) {
      // IncrementalDq's zero-padded tags: tag order = append order
      val tag = f"v$i%012d"
      val vr = result(hs(d)(i))
      MetricsRepository.appendRun(spark, repo, d, tag, vr)
      Reference.append(spark, s"$base/plain-$d", tag, vr)
      for (tol <- tolerances) {
        val got = sorted(drifts(repo, d, tag, tol))
        val want = sorted(Reference.driftFrom(spark, s"$base/plain-$d", tag, tol))
        assert(got === want, s"dataset $d run $i tolerance $tol")
        if (i == 0) assert(got.isEmpty, "the first run has no predecessor")
        compared += 1
        flagged += got.size
      }
    }
    assert(compared === 44 && flagged > 10, s"$flagged drifts in $compared comparisons")
  }

  test("anomalies: the driver-side check matches the distributed body at " +
      "windows 1-5, unpadded tags past 10 runs, two datasets in one repository") {
    val repo = s"${tmp("window")}/repo"
    val rnd = new Random(11)
    val runs = 12
    val hs = Seq("a", "b").map(d => d -> history(rnd, runs)).toMap
    for (i <- 0 until runs; d <- Seq("a", "b"))
      MetricsRepository.appendRun(spark, repo, d, s"r$i", result(hs(d)(i)))
    var flagged = 0
    for (d <- Seq("a", "b"); i <- 0 until runs) {
      // every window at r10 and r11 (where "r10" < "r2" as strings),
      // one window (cycling 1-5) at the other runs
      val windows = if (i >= 10) 1 to 5 else Seq(1 + i % 5)
      for (w <- windows) {
        val sigma = if ((i + w) % 2 == 0) 0.0 else 1.5
        val got = MetricsRepository.anomalies(spark, repo, d, s"r$i", w, sigma, 0.2)
        assertSame(got, Reference.anomalies(spark, repo, d, s"r$i", w, sigma, 0.2),
          s"dataset $d run r$i window $w sigma $sigma")
        flagged += got.size
      }
    }
    assert(flagged > 10, s"only $flagged anomalies flagged")
    // empty history: an unknown dataset, a run not persisted yet
    for ((d, t) <- Seq("c" -> "r0", "a" -> "r99")) {
      assert(MetricsRepository.anomalies(spark, repo, d, t).isEmpty)
      assert(Reference.anomalies(spark, repo, d, t).isEmpty)
    }
  }

  test("NaN counts as moved, on either side (driftFrom's rule)") {
    val base = tmp("nan")
    val repo = s"$base/repo"
    val runs = Seq(
      Seq("cur" -> 1.0, "prev" -> Double.NaN, "both" -> Double.NaN, "steady" -> 1.0),
      Seq("cur" -> Double.NaN, "prev" -> 1.0, "both" -> Double.NaN, "steady" -> 1.0))
    runs.zipWithIndex.foreach { case (ms, i) =>
      MetricsRepository.appendRun(spark, repo, "d", f"v$i%012d", result(ms))
      Reference.append(spark, s"$base/plain", f"v$i%012d", result(ms))
    }
    val tag = f"v${1}%012d"
    val got = drifts(repo, "d", tag, 0.5)
    assert(got.map(_.constraint).sorted === Seq("both", "cur", "prev"))
    assert(got.forall(_.relativeChange.isNaN))
    assert(sorted(Reference.driftFrom(spark, s"$base/plain", tag, 0.5))
      .map(_.constraint) === Seq("both", "cur", "prev"))
    // a NaN anywhere in a wider window makes its mean NaN: flagged
    MetricsRepository.appendRun(spark, repo, "d", f"v${2}%012d",
      result(Seq("cur" -> 1.0, "prev" -> 1.0, "both" -> 1.0, "steady" -> 1.0)))
    assert(MetricsRepository.anomalies(spark, repo, "d", f"v${2}%012d", window = 2)
      .map(_.constraint) === Seq("both", "cur", "prev"))
    // the replaced distributed body filtered on the driver, where every
    // NaN comparison is false: it never flagged one
    assert(Reference.anomalies(spark, repo, "d", tag, window = 1,
      maxSigma = 0.0, minRelDelta = 0.5).isEmpty)
  }

  test("a move of exactly tolerance x |previous| is not a drift") {
    val repo = s"${tmp("edge")}/repo"
    Seq(100.0, 120.0, 144.00000001).zipWithIndex.foreach { case (m, i) =>
      MetricsRepository.appendRun(spark, repo, "d", s"r$i", result(Seq("Size" -> m)))
    }
    // 120 vs 100 at 0.2: |Δ| = 20 is not > 0.2·100
    assert(drifts(repo, "d", "r1", 0.2).isEmpty)
    // just past the bound: 144.00000001 vs 120
    assert(drifts(repo, "d", "r2", 0.2).map(_.constraint) === Seq("Size"))
  }
}
