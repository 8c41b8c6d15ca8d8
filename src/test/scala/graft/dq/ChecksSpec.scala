package graft.dq

import graft.SparkTestBase
import graft.etl.SilverClean

class ChecksSpec extends SparkTestBase {

  lazy val silver = SilverClean.normalize(SilverClean.readBronzeCsv(spark, fixture))

  test("verification suite computes Deequ-shaped metrics in one pass") {
    val vr = VerificationSuite.run(silver, Seq(SilverClean.silverCheck))
    val metrics = vr.checkResults.head.results.map(r => r.constraint -> r.metric).toMap

    assert(metrics("Completeness(sessionId)") === 1.0)
    assert(metrics("Completeness(userId)") === 54.0 / 55.0)
    // isNonNegative passes NULLs (Deequ semantics): only the one
    // negative dollars row fails; "NA" distances count as compliant
    assert(metrics("NonNegative(dollars)") === 54.0 / 55.0)
    assert(metrics("NonNegative(distance)") === 1.0)
    assert(metrics("NonNegative(kwhTotal)") === 1.0) // 0.0 is non-negative
    // one off-domain facilityType ("5")
    assert(metrics("ContainedIn(facilityType)") === 54.0 / 55.0)
    // one duplicated sessionId pair → 53 of 55 rows unique
    assert(metrics("Uniqueness(sessionId)") === 53.0 / 55.0)
    assert(vr.status === "Error")
  }

  test("isContainedIn passes NULL values (Deequ parity)") {
    import org.apache.spark.sql.functions.{col, when}
    // null out the off-domain "5": with NULLs compliant the domain
    // check must now fully pass, while completeness still catches it
    val withNull = silver.withColumn("facilityType",
      when(col("facilityType") === "5", null).otherwise(col("facilityType")))
    val check = Check(CheckLevel.Error, "domain")
      .isContainedIn("facilityType", SilverClean.facilityTypeDomain)
      .isComplete("facilityType")
    val m = VerificationSuite.run(withNull, Seq(check))
      .checkResults.head.results.map(r => r.constraint -> r.metric).toMap
    assert(m("ContainedIn(facilityType)") === 1.0)
    assert(m("Completeness(facilityType)") === 54.0 / 55.0)
  }

  test("all-passing check yields Success status") {
    val check = Check(CheckLevel.Error, "ok")
      .isComplete("sessionId")
      .isNonNegative("kwhTotal")
    val vr = VerificationSuite.run(silver, Seq(check))
    assert(vr.status === "Success")
  }

  test("warning-level failures yield Warning status") {
    val check = Check(CheckLevel.Warning, "warn").isComplete("userId")
    val vr = VerificationSuite.run(silver, Seq(check))
    assert(vr.status === "Warning")
  }

  test("hasPattern counts anchored regex compliance, nulls failing") {
    val check = Check(CheckLevel.Error, "pat")
      .hasPattern("sessionId", "^[0-9]+$")   // all-numeric ids
      .hasPattern("platform", "^(android|ios|web)$")
    val vr = VerificationSuite.run(silver, Seq(check))
    val m = vr.checkResults.head.results.map(r => r.constraint -> r.metric).toMap
    assert(m("Pattern(sessionId)") === 1.0)
    assert(m("Pattern(platform)") === 1.0)
  }

  test("metrics repository records runs and flags drift") {
    val path = java.nio.file.Files.createTempDirectory("graft-dqrepo").toString + "/metrics"
    val vr1 = VerificationSuite.run(silver, Seq(SilverClean.silverCheck))
    MetricsRepository.appendRun(spark, path, "silver", "2026-08-01", vr1)

    // second run over a corrupted slice: userId completeness collapses
    val corrupted = silver.withColumn("userId",
      org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.rand(7) < 0.5, silver("userId")))
    val vr2 = VerificationSuite.run(corrupted, Seq(SilverClean.silverCheck))
    MetricsRepository.appendRun(spark, path, "silver", "2026-08-02", vr2)

    // drift = the one-run trailing window at a relative tolerance
    def drift(tag: String) = MetricsRepository.anomalies(spark, path, "silver", tag,
      window = 1, maxSigma = 0.0, minRelDelta = 0.1)
    assert(drift("2026-08-02").exists(_.constraint == "Completeness(userId)"),
      s"expected userId completeness drift, got ${drift("2026-08-02")}")
    // first run has no predecessor → no drift
    assert(drift("2026-08-01").isEmpty)
  }

  test("snapshot repository: history accrues one commit per run; the " +
      "trailing-window anomaly check stays quiet on stable metrics and " +
      "trips on injected drift") {
    import org.apache.spark.sql.functions.{col, when, rand}
    val path = java.nio.file.Files
      .createTempDirectory("graft-dqrepo-snap").toString + "/metrics"
    val check = Seq(SilverClean.silverCheck)
    // four stable runs over the same silver frame
    (1 to 4).foreach { i =>
      val vr = VerificationSuite.run(silver, check)
      MetricsRepository.appendRun(spark, path, "silver", s"2026-08-0$i", vr)
    }
    val perRun = VerificationSuite.run(silver, check)
      .checkResults.map(_.results.size).sum
    assert(MetricsRepository
      .runHistory(spark, path, "silver").count() === 4L * perRun)
    // time travel works on the metric table itself (it is a snapshot
    // table, not a plain parquet dir)
    assert(graft.lake.SnapshotTable
      .read(spark, path, Some(1L)).count() === perRun.toLong)
    // a fifth identical run: nothing anomalous against the window
    val vr5 = VerificationSuite.run(silver, check)
    MetricsRepository.appendRun(spark, path, "silver", "2026-08-05", vr5)
    assert(MetricsRepository
      .anomalies(spark, path, "silver", "2026-08-05").isEmpty)
    // a sixth run over a corrupted slice: completeness collapses and
    // the anomaly check names exactly that constraint
    val corrupted = silver.withColumn("userId",
      when(rand(7) < 0.5, silver("userId")))
    val vr6 = VerificationSuite.run(corrupted, check)
    MetricsRepository.appendRun(spark, path, "silver", "2026-08-06", vr6)
    val hits = MetricsRepository.anomalies(spark, path, "silver", "2026-08-06")
    assert(hits.exists(_.constraint == "Completeness(userId)"),
      s"expected a userId completeness anomaly, got $hits")
    // an unknown dataset reads as empty history, not someone else's
    assert(MetricsRepository
      .anomalies(spark, path, "other", "2026-08-06").isEmpty)
  }

  test("the repository maintains itself: auto-compaction merges " +
      "run files without changing history or anomaly results") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-dqrepo-ac").toString + "/metrics"
    val check = Seq(SilverClean.silverCheck)
    (1 to 9).foreach { i =>
      val vr = VerificationSuite.run(silver, check)
      MetricsRepository.appendRun(spark, path, "silver", f"2026-08-$i%02d", vr)
    }
    assert(graft.lake.SnapshotTable.autoCompactPolicy(spark, path)
      === Some((8, 100000L)))
    val ops = graft.lake.SnapshotTable.history(spark, path)
      .select("operation").collect().map(_.getString(0)).toSeq
    assert(ops.contains("autocompact"),
      s"repository never self-compacted across 9 runs: $ops")
    val perRun = VerificationSuite.run(silver, check)
      .checkResults.map(_.results.size).sum
    assert(MetricsRepository.runHistory(spark, path, "silver")
      .count() === 9L * perRun, "compaction must preserve the history rows")
    assert(MetricsRepository
      .anomalies(spark, path, "silver", "2026-08-09").isEmpty)
    // the live-file count proves the merge actually happened
    assert(graft.lake.SnapshotTable.liveFiles(spark, path).size < 9)
  }

  test("anomaly windows follow append order, not run_tag string order " +
      "(unpadded tags past 10 runs)") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-dqrepo-seq").toString + "/metrics"
    val check = Seq(Check(CheckLevel.Error, "volume").hasSize(_ >= 0))
    // a steady ramp: run r grows by 4 rows — each run is within noise
    // of its TRUE trailing window, far outside a stale one
    (0 to 11).foreach { r =>
      val vr = VerificationSuite.run(spark.range(40L + 4L * r).toDF(), check)
      MetricsRepository.appendRun(spark, path, "docs", s"r$r", vr)
    }
    // "r10" sorts lexicographically BEFORE "r2", so a string-ordered
    // window for r10 would be {r1, r0} (Size mean 42 vs current 80 —
    // a flagged anomaly). The append-ordered window is r5..r9 (mean
    // 68, well inside 3 sigma of the ramp) and must stay quiet.
    assert(MetricsRepository.anomalies(spark, path, "docs", "r10").isEmpty,
      "steady ramp flagged anomalous — window was not append-ordered")
    assert(MetricsRepository.anomalies(spark, path, "docs", "r11").isEmpty)
    // a genuine collapse still trips against the append-ordered window
    val vr = VerificationSuite.run(spark.range(10L).toDF(), check)
    MetricsRepository.appendRun(spark, path, "docs", "r12", vr)
    val hits = MetricsRepository.anomalies(spark, path, "docs", "r12")
    assert(hits.exists(_.constraint == "Size"), s"expected Size, got $hits")
  }

  test("retention recipe: VACUUM after self-compaction reclaims the " +
      "per-run small files without touching history or anomaly windows") {
    val path = java.nio.file.Files
      .createTempDirectory("graft-dqrepo-vac").toString + "/metrics"
    val check = Seq(SilverClean.silverCheck)
    (1 to 9).foreach { i =>
      val vr = VerificationSuite.run(silver, check)
      MetricsRepository.appendRun(spark, path, "silver", f"2026-08-$i%02d", vr)
    }
    def parquetFiles(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val perRun = VerificationSuite.run(silver, check)
      .checkResults.map(_.results.size).sum
    val filesBefore = parquetFiles()
    val quietBefore = MetricsRepository
      .anomalies(spark, path, "silver", "2026-08-09")
    // auto-compaction (armed at creation) already merged the run
    // files into few LIVE files; VACUUM is the storage half — it
    // deletes the superseded per-run files old versions still pin
    graft.lake.SnapshotTable.vacuum(spark, path, keepVersions = 1)
    assert(parquetFiles() < filesBefore,
      s"vacuum reclaimed nothing ($filesBefore files before and after)")
    assert(MetricsRepository.runHistory(spark, path, "silver")
      .count() === 9L * perRun, "vacuum must not change the metric history")
    assert(MetricsRepository
      .anomalies(spark, path, "silver", "2026-08-09") === quietBefore,
      "vacuum must not change anomaly results")
    // and the repository keeps accepting runs afterwards
    val vr = VerificationSuite.run(silver, check)
    MetricsRepository.appendRun(spark, path, "silver", "2026-08-10", vr)
    assert(MetricsRepository.runHistory(spark, path, "silver")
      .count() === 10L * perRun)
  }
}
