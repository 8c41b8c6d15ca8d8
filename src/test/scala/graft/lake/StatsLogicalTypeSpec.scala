package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Footer-stats logical-type guards: parquet's physical type alone is
  * ambiguous, and recording bounds from the wrong value domain makes
  * the skipper *wrongly exclude* files — silent duplicate keys on
  * merge. DECIMAL(p≤18) is INT32/INT64-backed with UNSCALED footer
  * stats; DECIMAL(p>18) is BINARY-backed and its big-endian unscaled
  * bytes can round-trip UTF-8 (0x30 0x39 = "09"), masquerading as
  * string bounds. Both must record NO bound (conservative rewrite),
  * while true numeric/string columns keep theirs. */
class StatsLogicalTypeSpec extends SparkTestBase {

  import spark.implicits._

  private def entryBoundsFor(path: String, c: String): (Boolean, Boolean) = {
    val v = SnapshotTable.latestVersion(spark, path).get
    val es = SnapshotTable.readManifest(spark, path, v)
    (es.exists(_.stats.exists(_._1 == c)), es.exists(_.sstats.exists(_._1 == c)))
  }

  test("BINARY-backed decimal merge key records no string bounds; merge upserts, never duplicates") {
    val path = Files.createTempDirectory("graft-dec-big").toString + "/t"
    def rows(vs: (String, Long)*) = vs.toSeq.toDF("raw", "v")
      .select(col("raw").cast("decimal(20,2)").as("id"), col("v"))
    // keys chosen so the unscaled big-endian bytes are printable
    // ASCII (e.g. 123.45 → unscaled 12345 = 0x3039 = "09") — the
    // exact shape that round-trips UTF-8 and would have recorded
    // bogus sstats before the logical-type gate
    SnapshotTable.merge(rows(("123.45", 1L), ("125.46", 2L)).coalesce(1),
      path, Seq("id"))
    val (num, str) = entryBoundsFor(path, "id")
    assert(!num && !str, s"decimal(20,2) key must record no bounds, got num=$num str=$str")
    // update the existing key: with bogus byte-blob bounds the file
    // could be wrongly pruned and the update land as an INSERT
    SnapshotTable.merge(rows(("123.45", 10L)).coalesce(1), path, Seq("id"))
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 2)
    assert(got.filter(col("id") === lit(BigDecimal("123.45")))
      .select("v").as[Long].collect().toSeq === Seq(10L))
  }

  test("INT-backed small decimal merge key records no numeric bounds (unscaled-value trap)") {
    val path = Files.createTempDirectory("graft-dec-small").toString + "/t"
    def rows(vs: (String, Long)*) = vs.toSeq.toDF("raw", "v")
      .select(col("raw").cast("decimal(9,2)").as("id"), col("v"))
    SnapshotTable.merge(rows(("1.50", 1L), ("2.75", 2L)).coalesce(1), path, Seq("id"))
    val (num, str) = entryBoundsFor(path, "id")
    // unscaled footer stats would claim [150, 275] while merge
    // compares the SCALED cast-to-double 1.5 — out of range → file
    // pruned → duplicate key
    assert(!num && !str, s"decimal(9,2) key must record no bounds, got num=$num str=$str")
    SnapshotTable.merge(rows(("1.50", 99L)).coalesce(1), path, Seq("id"))
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 2)
    assert(got.filter(col("id") === lit(BigDecimal("1.50")))
      .select("v").as[Long].collect().toSeq === Seq(99L))
  }

  test("true string and numeric key columns still record bounds") {
    val path = Files.createTempDirectory("graft-stats-keep").toString + "/t"
    val df = Seq(("a1", 1L, 1.5), ("b2", 2L, 2.5)).toDF("sid", "n", "d")
    SnapshotTable.merge(df.coalesce(1), path, Seq("sid", "n", "d"))
    val v = SnapshotTable.latestVersion(spark, path).get
    val es = SnapshotTable.readManifest(spark, path, v)
    assert(es.exists(_.sstats.exists(_._1 == "sid")), "string key lost its bounds")
    assert(es.exists(_.stats.exists(_._1 == "n")), "long key lost its bounds")
    assert(es.exists(_.stats.exists(_._1 == "d")), "double key lost its bounds")
  }

  test("a double chunk holding NaN records no bound; reads and merges still find its rows") {
    // parquet writes no min/max for such a chunk, and its statistics
    // then report 0.0 for both: recorded as a bound, [0, 0] would skip
    // the file for every other key it holds
    val path = Files.createTempDirectory("graft-stats-nan").toString + "/t"
    SnapshotTable.merge(Seq((60.0, "a"), (Double.NaN, "n")).toDF("d", "s").coalesce(1),
      path, Seq("d"))
    assert(entryBoundsFor(path, "d") === ((false, false)))
    assert(SnapshotTable.readWhere(spark, path, col("d") === 60.0).count() === 1)
    SnapshotTable.merge(Seq((60.0, "upd")).toDF("d", "s"), path, Seq("d"))
    assert(SnapshotTable.read(spark, path).filter(col("d") === 60.0)
      .select("s").as[String].collect().toSeq === Seq("upd"))
  }

  test("vacuum checkpoint materialization leaves no tmp files and is visible without a cache clear") {
    val path = Files.createTempDirectory("graft-vac-atomic").toString + "/t"
    (1 to 6).foreach { i =>
      SnapshotTable.append(Seq((i.toLong, i.toString)).toDF("id", "s").coalesce(1), path)
    }
    // prime the cache with v4's DELTA parse, then vacuum — the
    // rewrite restores mtime, so only the explicit invalidation
    // keeps the cached stale parse from surviving
    assert(SnapshotTable.read(spark, path, Some(4L)).count() === 4)
    SnapshotTable.vacuum(spark, path, keepVersions = 3)
    val logDir = Paths.get(s"$path/_graft_log")
    val leftovers = Files.list(logDir).iterator()
    val names = Iterator.continually(leftovers)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString).toSeq
    assert(!names.exists(_.startsWith(".tmp")), s"tmp leak in log dir: $names")
    // no clearManifestCache() here on purpose
    assert(SnapshotTable.read(spark, path, Some(4L)).count() === 4)
    assert(SnapshotTable.read(spark, path).count() === 6)
  }
}
