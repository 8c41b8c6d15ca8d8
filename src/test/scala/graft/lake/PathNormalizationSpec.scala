package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** File-identity normalization between manifest/listing paths
  * (literal characters) and `input_file_name()` output (URI-escaped):
  * a directory literally named like a percent escape (`a%20b`) must
  * keep the two identities aligned — decoding the LISTING side would
  * turn it into `a b` and silently divorce every matcher. */
class PathNormalizationSpec extends SparkTestBase {

  import spark.implicits._

  test("bloom build, UPDATE and DELETE work in a directory literally named 'a%20b'") {
    val base = Files.createTempDirectory("graft-pct").toString
    val path = s"$base/a%20b/t"
    // the blooms are written into each file's footer and read back
    // by the commit's footer open under the listed path
    SnapshotTable.append(Seq((1L, "x"), (2L, "y")).toDF("k", "s").coalesce(1), path)
    SnapshotTable.setBloomColumns(spark, path, Seq("k"))
    SnapshotTable.append(Seq((3L, "z")).toDF("k", "s").coalesce(1), path)
    assert(SnapshotTable.readManifest(spark, path, SnapshotTable.latestVersion(spark, path).get)
      .exists(_.blooms.nonEmpty))
    assert(SnapshotTable.read(spark, path).count() === 3L)
    // UPDATE and DELETE map input_file_name back to manifest entries
    SnapshotTable.update(spark, path, Seq("s" -> lit("upd")), col("k") === 2L)
    assert(SnapshotTable.read(spark, path).filter(col("k") === 2L)
      .select("s").as[String].head() === "upd")
    SnapshotTable.delete(spark, path, col("k") === 1L)
    assert(SnapshotTable.read(spark, path).select("k").as[Long]
      .collect().sorted === Array(2L, 3L))
  }

  test("a directory with a literal space keeps both identities aligned too") {
    val base = Files.createTempDirectory("graft-sp").toString
    val path = s"$base/a b/t"
    SnapshotTable.append(Seq((1L, "x"), (2L, "y")).toDF("k", "s").coalesce(1), path)
    SnapshotTable.setBloomColumns(spark, path, Seq("k"))
    SnapshotTable.append(Seq((3L, "z")).toDF("k", "s").coalesce(1), path)
    SnapshotTable.delete(spark, path, col("k") === 3L)
    assert(SnapshotTable.read(spark, path).select("k").as[Long]
      .collect().sorted === Array(1L, 2L))
  }
}
