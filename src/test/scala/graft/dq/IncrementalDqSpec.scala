package graft.dq

import java.nio.file.Files

import graft.SparkTestBase
import graft.lake.SnapshotTable

class IncrementalDqSpec extends SparkTestBase {

  import spark.implicits._

  private val checks = Seq(
    Check(CheckLevel.Error, "events")
      .isComplete("user_id")
      .hasSize(_ > 0))

  test("verifies only new commits; metric history accumulates per batch") {
    val base = Files.createTempDirectory("graft-incdq").toString
    val path = s"$base/t"

    SnapshotTable.append(
      (1 to 100).map(i => (i.toLong, s"u$i")).toDF("event_id", "user_id"), path)
    val r1 = IncrementalDq.run(spark, path, s"$base/ckpt", s"$base/metrics", checks)
    assert(r1.map(r => (r.fromVersion, r.toVersion)) === Seq((1L, 1L)))
    assert(r1.head.status === "Success")
    // first run has no baseline → no drift
    assert(r1.head.drifts.isEmpty)
    // the Size metric proves the pass saw the batch, not a sample
    def metric(r: BatchReportAccess, name: String): Double =
      r.result.checkResults.head.results.find(_.constraint == name).get.metric
    assert(metric(r1.head, "Size") === 100.0)

    // nothing new → no reports, no metric rows appended
    assert(IncrementalDq.run(spark, path, s"$base/ckpt", s"$base/metrics", checks).isEmpty)
    assert(MetricsRepository.runHistory(spark, s"$base/metrics", path).count() === 2)

    // second commit is smaller AND half-null — the suite must see ONLY
    // these 10 rows (full-table completeness would be 105/110, not 0.5)
    SnapshotTable.append(
      (101 to 110).map(i => (i.toLong, if (i % 2 == 0) s"u$i" else null))
        .toDF("event_id", "user_id"), path)
    val r2 = IncrementalDq.run(spark, path, s"$base/ckpt", s"$base/metrics", checks,
      driftTolerance = 0.2)
    assert(r2.size === 1 && r2.head.status === "Error")
    assert(metric(r2.head, "Completeness(user_id)") === 0.5)
    assert(metric(r2.head, "Size") === 10.0)
    // both metrics moved >20% vs the previous batch → drift on each
    val drifted = r2.head.drifts.map(_.constraint).toSet
    assert(drifted === Set("Completeness(user_id)", "Size"))
    val size = r2.head.drifts.find(_.constraint == "Size").get
    assert(size.previous === 100.0 && size.current === 10.0)

    // a checks-Error batch still advanced the checkpoint (DQ observes;
    // gating is the caller's decision) — nothing replays
    assert(IncrementalDq.run(spark, path, s"$base/ckpt", s"$base/metrics", checks).isEmpty)
  }

  private type BatchReportAccess = IncrementalDq.BatchReport

  test("a backlog consumed in bounded sub-ranges gets one metrics row per sub-range") {
    val base = Files.createTempDirectory("graft-incdq-batched").toString
    val path = s"$base/t"
    (1 to 3).foreach(i => SnapshotTable.append(
      (1 to i * 10).map(j => (j.toLong, s"u$j")).toDF("event_id", "user_id"), path))
    val rs = IncrementalDq.run(spark, path, s"$base/ckpt", s"$base/metrics", checks,
      driftTolerance = 10.0, maxVersionsPerBatch = Some(1L))
    assert(rs.map(r => (r.fromVersion, r.toVersion)) ===
      Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    // per-version Size metrics landed as separate tagged runs
    val sizes = MetricsRepository.runHistory(spark, s"$base/metrics", path)
      .filter($"constraint" === "Size")
      .select("run_tag", "metric").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sizes.values.toSeq.sorted === Seq(10.0, 20.0, 30.0))
  }
}
