package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Per-file bloom skipping: point lookups on a high-cardinality
  * UNCLUSTERED key — every file's min/max spans the whole key space,
  * so range bounds prune nothing; the manifest blooms are what drop
  * files. Table layout used throughout: keys round-robined across
  * commits so each file holds a full-range sample (the adversarial
  * layout for min/max, the natural one for a uuid-ish session key). */
class BloomSkippingSpec extends SparkTestBase {

  import spark.implicits._

  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    def files(p: org.apache.spark.sql.execution.SparkPlan): Long =
      p.collect {
        case a: AdaptiveSparkPlanExec => files(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => files(q.plan)
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    files(df.queryExecution.executedPlan)
  }

  /** Deterministic pseudo-random hex key — full-range within every
    * file group below. */
  private def key(i: Int): String = f"k${(i * 2654435761L) % 100000}%05d-$i%04d"

  /** nFiles commits, each holding a full-range slice of the key
    * space (round-robin): string bounds per file ≈ global range. */
  private def buildTable(path: String, n: Int, nFiles: Int): Unit = {
    val rows = (0 until n).map(i => (key(i), i.toLong))
    SnapshotTable.create(spark, path,
      rows.toDF("id", "v").schema)
    SnapshotTable.setBloomColumns(spark, path, Seq("id"))
    (0 until nFiles).foreach { g =>
      val slice = rows.zipWithIndex.collect { case (r, i) if i % nFiles == g => r }
      // merge (all-insert) so each file records sstats on the key:
      // the point-lookup tests then prove blooms prune files whose
      // RECORDED bounds contain the probe
      SnapshotTable.merge(slice.toDF("id", "v").coalesce(1), path, Seq("id"))
    }
  }

  test("point WHERE prunes to ~1 file where string bounds keep all; absent in-range key scans 0") {
    val path = Files.createTempDirectory("graft-bloom1").toString + "/t"
    buildTable(path, 600, 6)
    val v = SnapshotTable.latestVersion(spark, path).get
    val entries = SnapshotTable.readManifest(spark, path, v)
    val dataFiles = entries.filter(_.rows > 0)
    assert(dataFiles.size === 6)
    assert(dataFiles.forall(_.blooms.exists(_._1 == "id")), "blooms missing")
    val probe = key(49) // mid-range hash: inside every file's bounds
    // min/max alone keeps EVERY file: each file's RECORDED string
    // range contains the probe (full-range slices by construction),
    // so any pruning observed below is the blooms' doing
    val rangeKept = dataFiles.count { e =>
      e.sstats.find(_._1 == "id").exists { case (_, mn, mx) =>
        mn <= probe && probe <= mx }
    }
    assert(rangeKept === 6, s"layout broke: bounds kept $rangeKept/6")
    val q = SnapshotTable.readWhere(spark, path, col("id") === probe)
    assert(q.select("v").as[Long].collect().toSeq === Seq(49L))
    val n = scannedFiles(q)
    assert(n >= 1 && n < 6, s"bloom did not prune: scanned $n of 6")
    // absent key lexically inside the global range: blooms scan zero
    val absent = probe.dropRight(1) + "x"
    val q0 = SnapshotTable.readWhere(spark, path, col("id") === absent)
    assert(q0.count() === 0)
    assert(scannedFiles(q0) === 0, "absent in-range key should scan 0 files")
    // no predicate: all files
    assert(SnapshotTable.read(spark, path).count() === 600)
  }

  test("IN-list probes the union; range predicates are untouched by blooms") {
    val path = Files.createTempDirectory("graft-bloom2").toString + "/t"
    buildTable(path, 400, 4)
    val ks = Seq(key(7), key(201))
    val q = SnapshotTable.readWhere(spark, path, col("id").isin(ks: _*))
    assert(q.count() === 2)
    assert(scannedFiles(q) <= 2, "IN-list should prune to the union of holders")
    // a >= predicate has no point hash — falls back to string bounds
    val all = SnapshotTable.readWhere(spark, path, col("id") >= "")
    assert(all.count() === 400)
  }

  test("integral key bloom: long column point lookup prunes") {
    val path = Files.createTempDirectory("graft-bloom3").toString + "/t"
    val rows = (0 until 500).map(i => ((i * 7919L) % 100000L, s"p$i"))
    SnapshotTable.create(spark, path, rows.toDF("k", "p").schema)
    SnapshotTable.setBloomColumns(spark, path, Seq("k"))
    (0 until 5).foreach { g =>
      val slice = rows.zipWithIndex.collect { case (r, i) if i % 5 == g => r }
      SnapshotTable.append(slice.toDF("k", "p").coalesce(1), path)
    }
    val probe = (123L * 7919L) % 100000L
    val q = SnapshotTable.readWhere(spark, path, col("k") === probe)
    assert(q.count() === 1)
    val n = scannedFiles(q)
    assert(n >= 1 && n < 5, s"long-key bloom did not prune: scanned $n of 5")
  }

  test("point MERGE rewrites only the bloom-hit file; absent-key merge rewrites none") {
    val path = Files.createTempDirectory("graft-bloom4").toString + "/t"
    buildTable(path, 600, 6)
    val before = SnapshotTable.liveFiles(spark, path).toSet
    // update one existing key
    SnapshotTable.merge(Seq((key(250), 9999L)).toDF("id", "v").coalesce(1),
      path, Seq("id"))
    val after = SnapshotTable.liveFiles(spark, path).toSet
    val rewritten = (before -- after).size
    assert(rewritten === 1, s"point merge rewrote $rewritten files, want 1")
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 600)
    assert(got.filter(col("id") === key(250)).select("v").as[Long].head() === 9999L)
    // absent in-range key: pure insert, zero rewrites
    val before2 = SnapshotTable.liveFiles(spark, path).toSet
    SnapshotTable.merge(Seq((key(250).dropRight(1) + "x", -1L)).toDF("id", "v")
      .coalesce(1), path, Seq("id"))
    val after2 = SnapshotTable.liveFiles(spark, path).toSet
    assert((before2 -- after2).isEmpty,
      "absent-key merge should rewrite nothing")
    assert(SnapshotTable.read(spark, path).count() === 601)
  }

  test("merge beyond the probe cap skips bloom refinement but stays correct") {
    val path = Files.createTempDirectory("graft-bloom5").toString + "/t"
    buildTable(path, 1100, 3)
    // more distinct keys than the finder's driver tier tests
    val n = SnapshotTable.KeyTupleCap + 26
    val src = (0 until n).map(i => (key(i), i + 5000L)).toDF("id", "v")
    SnapshotTable.merge(src.coalesce(1), path, Seq("id"))
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 1100)
    assert(got.filter(col("id") === key(13)).select("v").as[Long].head() === 5013L)
  }

  test("blooms round-trip the manifest codec and the delta log") {
    val path = Files.createTempDirectory("graft-bloom6").toString + "/t"
    buildTable(path, 200, 2)
    SnapshotTable.clearManifestCache()
    val v = SnapshotTable.latestVersion(spark, path).get
    val entries = SnapshotTable.readManifest(spark, path, v)
    val withBloom = entries.filter(_.blooms.nonEmpty)
    assert(withBloom.size === 2)
    withBloom.foreach { e =>
      val (_, payload) = e.blooms.find(_._1 == "id").get
      // payload parses back into a working filter
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        java.util.Base64.getDecoder.decode(payload))
      assert(bf.bitSize() > 0)
    }
    assert(SnapshotTable.bloomColumns(spark, path) === Seq("id"))
  }

  test("false-positive rate stays near the 1% design point") {
    val path = Files.createTempDirectory("graft-bloom7").toString + "/t"
    buildTable(path, 2000, 2)
    val v = SnapshotTable.latestVersion(spark, path).get
    val e = SnapshotTable.readManifest(spark, path, v).find(_.blooms.nonEmpty).get
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      java.util.Base64.getDecoder.decode(e.blooms.find(_._1 == "id").get._2))
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    val probes = (100000 until 110000).map(i => s"zz-absent-$i")
    val fp = probes.count(p =>
      bf.mightContainLong(XXH64.hashUTF8String(UTF8String.fromString(p), 42L)))
    assert(fp < 300, s"FPR ${fp / 10000.0} far above the 1% design point")
  }

  test("blooms attach under paths with URL-encodable characters (space in dir name)") {
    // the blooms ride each file's footer, which the commit opens under
    // the listed (literal-character) path: files under a path with
    // URL-encodable characters must not end up bloom-less
    val path = Files.createTempDirectory("graft bloom sp").toString + "/t a ble"
    buildTable(path, 300, 3)
    val v = SnapshotTable.latestVersion(spark, path).get
    val dataFiles = SnapshotTable.readManifest(spark, path, v).filter(_.rows > 0)
    assert(dataFiles.nonEmpty)
    assert(dataFiles.forall(_.blooms.exists(_._1 == "id")),
      "files under a URL-encodable path missed their blooms")
    val qAbs = SnapshotTable.readWhere(spark, path, col("id") === "zz-absent")
    assert(qAbs.count() === 0 && scannedFiles(qAbs) === 0)
  }

  test("decoded blooms are memoized: repeated point lookups never re-deserialize") {
    val path = Files.createTempDirectory("graft-bloom-cache").toString + "/t"
    buildTable(path, 600, 6)
    SnapshotTable.clearBloomDecodeCache()
    val before = SnapshotTable.bloomDecodes.get()
    SnapshotTable.readWhere(spark, path, col("id") === key(49)).count()
    val firstProbe = SnapshotTable.bloomDecodes.get() - before
    assert(firstProbe > 0, "cold probe must decode payloads")
    // different keys, same files: every payload is already decoded
    SnapshotTable.readWhere(spark, path, col("id") === key(123)).count()
    SnapshotTable.readWhere(spark, path, col("id") === "zz-absent").count()
    assert(SnapshotTable.bloomDecodes.get() - before === firstProbe,
      "warm probes re-decoded bloom payloads")
  }

  test("ineligible and unknown columns are rejected; non-bloom tables unaffected") {
    val path = Files.createTempDirectory("graft-bloom8").toString + "/t"
    SnapshotTable.create(spark, path,
      Seq(("a", 1.5)).toDF("id", "d").schema)
    intercept[IllegalArgumentException] {
      SnapshotTable.setBloomColumns(spark, path, Seq("d"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.setBloomColumns(spark, path, Seq("nope"))
    }
    SnapshotTable.append(Seq(("a", 1.5)).toDF("id", "d"), path)
    val vv = SnapshotTable.latestVersion(spark, path).get
    assert(SnapshotTable.readManifest(spark, path, vv).forall(_.blooms.isEmpty))
  }
}
