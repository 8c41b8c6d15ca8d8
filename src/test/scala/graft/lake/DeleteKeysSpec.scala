package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Distributed key-set DELETE (`MERGE WHEN MATCHED THEN DELETE`):
  * the match set is a DataFrame — never collected — and the rewrite
  * set is stats/bloom-pruned like merge's. */
class DeleteKeysSpec extends SparkTestBase {

  import spark.implicits._

  test("deletes exactly the matched keys, rewrites only files that can hold them") {
    val path = Files.createTempDirectory("graft-delkeys1").toString + "/t"
    // 3 clustered files: [0,99], [100,199], [200,299] — stats prune
    (0 until 3).foreach { g =>
      val rows = (g * 100 until (g + 1) * 100).map(i => (i.toLong, s"p$i"))
      SnapshotTable.merge(rows.toDF("k", "p").coalesce(1), path, Seq("k"))
    }
    val before = SnapshotTable.liveFiles(spark, path).toSet
    val src = Seq(5L, 7L, 42L).toDF("k") // all in file 0's range
    val v = SnapshotTable.deleteKeys(src, path, Seq("k"))
    assert(v > 0)
    val after = SnapshotTable.liveFiles(spark, path).toSet
    assert((before -- after).size === 1,
      s"should rewrite only the range-hit file, rewrote ${(before -- after).size}")
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 297)
    assert(got.filter(col("k").isin(5L, 7L, 42L)).count() === 0)
    assert(got.filter(col("k") === 6L).count() === 1)
  }

  test("duplicate and unmatched source keys are harmless; no-op returns current version") {
    val path = Files.createTempDirectory("graft-delkeys2").toString + "/t"
    SnapshotTable.merge((0 until 50).map(i => (i.toLong, i))
      .toDF("k", "v").coalesce(1), path, Seq("k"))
    val v0 = SnapshotTable.latestVersion(spark, path).get
    // out-of-range keys: stats prune everything → no commit
    val none = SnapshotTable.deleteKeys(Seq(999L, 999L, 1000L).toDF("k"),
      path, Seq("k"))
    assert(none === v0, "unmatched delete should be a version no-op")
    // duplicates in the match set delete once
    val v = SnapshotTable.deleteKeys(Seq(3L, 3L, 4L).toDF("k"), path, Seq("k"))
    assert(SnapshotTable.read(spark, path).count() === 48)
    // the commit is a key delete without key columns, so its change
    // feed takes the unkeyed path
    val m = SnapshotTable.readManifestFull(spark, path, v)
    assert(m.op === Some("delete_keys") && m.opKeys.isEmpty)
  }

  test("NULL key components never match (SQL equality)") {
    val path = Files.createTempDirectory("graft-delkeys3").toString + "/t"
    SnapshotTable.append(Seq((Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("k", "p").coalesce(1), path)
    SnapshotTable.deleteKeys(Seq(Some(1L), Option.empty[Long]).toDF("k"),
      path, Seq("k"))
    val got = SnapshotTable.read(spark, path).select("p").as[String]
      .collect().toSet
    assert(got === Set("b", "c"), "NULL-keyed row must survive a NULL match key")
  }

  test("large key set stays distributed and respects a bloom-bearing table") {
    val path = Files.createTempDirectory("graft-delkeys4").toString + "/t"
    val rows = (0 until 2000).map(i => (i.toLong, s"p$i"))
    SnapshotTable.create(spark, path, rows.toDF("k", "p").schema)
    SnapshotTable.setBloomColumns(spark, path, Seq("k"))
    (0 until 4).foreach { g =>
      val slice = rows.zipWithIndex.collect { case (r, i) if i % 4 == g => r }
      SnapshotTable.merge(slice.toDF("k", "p").coalesce(1), path, Seq("k"))
    }
    // 1500 keys — far past merge's bloom probe cap; must still be exact
    val src = (0 until 1500).map(_.toLong).toDF("k")
    SnapshotTable.deleteKeys(src, path, Seq("k"))
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 500)
    assert(got.agg(min(col("k"))).as[Long].head() === 1500L)
  }
}
