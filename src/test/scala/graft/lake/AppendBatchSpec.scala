package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** `appendBatch` (N frames → N commits sharing one write job) against
  * N single `append`s of the same frames into a twin table: the same
  * versions, rows, and per-entry row counts, stats, null counts and
  * blooms, commit by commit. */
class AppendBatchSpec extends SparkTestBase {

  import spark.implicits._

  private def latest(path: String): SnapshotTable.Manifest =
    SnapshotTable.readManifestFull(spark, path, SnapshotTable.latestVersion(spark, path).get)

  /** What a commit added, without its location: (rows, stats, string
    * stats, null counts, blooms) per file, sorted. */
  private def added(path: String, v: Long): Seq[String] = {
    val before = SnapshotTable.readManifest(spark, path, v - 1).map(_.filePath).toSet
    SnapshotTable.readManifest(spark, path, v).filterNot(e => before(e.filePath))
      .map(e => (e.rows, e.stats, e.sstats, e.nulls.sortBy(_._1), e.blooms.sortBy(_._1)).toString)
      .sorted
  }

  private def frames: Seq[DataFrame] = Seq(
    (1L to 40L).map(i => (i, if (i % 5 == 0) None else Some(s"s$i"))).toDF("k", "s"),
    Seq((41L, Some("x"))).toDF("k", "s"),
    (42L to 600L).map(i => (i, Some(s"s$i"))).toDF("k", "s").repartition(2))

  test("3 frames through appendBatch equal 3 single appends on a bloomed table") {
    val base = Files.createTempDirectory("graft-appendbatch").toString
    val (batched, single) = (s"$base/b", s"$base/s")
    for (p <- Seq(batched, single)) {
      SnapshotTable.create(spark, p, frames.head.schema)
      SnapshotTable.setBloomColumns(spark, p, Seq("k", "s"))
    }
    val v0 = SnapshotTable.latestVersion(spark, batched).get
    val vs = SnapshotTable.appendBatch(frames, batched)
    assert(vs === Seq(v0 + 1, v0 + 2, v0 + 3))
    assert(frames.map(SnapshotTable.append(_, single)) === vs)
    def rows(p: String) = SnapshotTable.read(spark, p).orderBy("k").collect().toSeq
    assert(rows(batched) === rows(single))
    assert(rows(batched).size === 600)
    vs.foreach { v =>
      val a = added(batched, v)
      assert(a.nonEmpty)
      assert(a === added(single, v), s"version $v")
    }
    assert(latest(batched).entries.filter(_.rows > 0)
      .forall(_.blooms.map(_._1).toSet === Set("k", "s")))
    assert(SnapshotTable.readWhere(spark, batched, col("s") === "s300").count() === 1)
  }
}
