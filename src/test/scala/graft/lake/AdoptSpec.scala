package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** In-place adoption of plain parquet (the CONVERT TO DELTA /
  * Iceberg-migrate shape): version 1 references the files where they
  * sit — zero moves, zero rewrites — and the directory then behaves
  * as a full snapshot table: pruned reads, appends, file-pruned DML,
  * compaction into managed layout, vacuum reclaiming the superseded
  * originals. */
class AdoptSpec extends SparkTestBase {

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

  test("adopt a hive-partitioned dir in place: identical reads, both stats families prune, zero moves") {
    val dir = Files.createTempDirectory("graft-adopt-part").toString + "/t"
    val df = (1 to 300).map(i => (i.toLong, s"p${i % 3}", i * 1.0))
      .toDF("k", "p", "v")
    df.coalesce(1).write.partitionBy("p").parquet(dir)
    val origFiles = spark.read.parquet(dir).inputFiles.toSet

    assert(SnapshotTable.adopt(spark, dir, statsCols = Seq("k")) === 1L)
    // nothing moved: v1 references the original files exactly
    assert(SnapshotTable.liveFiles(spark, dir).map(f =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet ===
      origFiles.map(f => new java.net.URI(f).getPath))
    // identical content
    val got = SnapshotTable.read(spark, dir).select("k", "p", "v")
    assert(got.count() === 300L)
    assert(got.exceptAll(df).count() === 0 && df.exceptAll(got).count() === 0)
    // partition-dir stats prune partition-style; footer stats prune on k
    assert(scannedFiles(SnapshotTable.readWhere(spark, dir,
      col("p") === "p1")) === 1L)
    assert(scannedFiles(SnapshotTable.readWhere(spark, dir,
      col("k") === 5L)) === 3L) // k spans every partition file: no k-prune
    assert(SnapshotTable.count(spark, dir) === 300L) // metadata-only count
  }

  test("adopt records the schema a plain read infers, partition column types " +
      "included, and runs no Spark job for it") {
    val dir = Files.createTempDirectory("graft-adopt-schema").toString + "/t"
    (1 to 40).map(i => (i.toLong, s"s$i", i % 4, java.sql.Date.valueOf(
        s"2024-01-0${1 + i % 2}"), if (i % 5 == 0) null else s"p${i % 3}"))
      .toDF("k", "s", "n", "d", "p")
      .write.partitionBy("n", "d", "p").parquet(dir)
    val inferred = spark.read.parquet(dir).schema
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    Thread.sleep(1000) // events of earlier jobs post asynchronously
    spark.sparkContext.addSparkListener(listener)
    try SnapshotTable.adopt(spark, dir, statsCols = Seq("k"))
    finally {
      Thread.sleep(1000)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get === 0, "adopt must take the schema from a footer it already read")
    assert(SnapshotTable.read(spark, dir).schema === inferred)
    assert(SnapshotTable.read(spark, dir).count() === 40L)
  }

  test("adopted table takes the full lifecycle: append, file-pruned merge, compact, vacuum reclaims originals") {
    val dir = Files.createTempDirectory("graft-adopt-life").toString + "/t"
    // three range-clustered files so the merge can prove file pruning
    (1 to 300).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .repartitionByRange(3, col("k")).sortWithinPartitions("k")
      .write.parquet(dir)
    assert(SnapshotTable.adopt(spark, dir, statsCols = Seq("k")) === 1L)
    val adopted = SnapshotTable.liveFiles(spark, dir).toSet
    assert(adopted.size === 3)

    SnapshotTable.append(Seq((301L, -1.0)).toDF("k", "v"), dir)    // v2
    assert(SnapshotTable.read(spark, dir).count() === 301L)

    // merge updates one key: only the covering adopted file rewrites
    SnapshotTable.merge(Seq((5L, 99.0)).toDF("k", "v").coalesce(1),
      dir, Seq("k"))                                               // v3
    val after = SnapshotTable.liveFiles(spark, dir).toSet
    assert((adopted -- after).size === 1, "merge must rewrite ONE adopted file")
    assert(SnapshotTable.read(spark, dir)
      .filter(col("k") === 5L).select("v").as[Double].head() === 99.0)

    // compact migrates everything into managed layout; vacuum then
    // reclaims the superseded adopted originals (ownership contract)
    SnapshotTable.compact(spark, dir, numFiles = 1)                // v4
    SnapshotTable.vacuum(spark, dir, keepVersions = 1)
    val f = SnapshotTable.fs(spark, dir)
    assert(adopted.forall(p => !f.exists(new org.apache.hadoop.fs.Path(p))),
      "vacuum must reclaim superseded adopted files")
    assert(SnapshotTable.read(spark, dir).count() === 301L)
    assert(SnapshotTable.read(spark, dir)
      .filter(col("k") === 5L).select("v").as[Double].head() === 99.0)
  }

  test("DESCRIBE DETAIL / HISTORY on an ADOPTED table mid-lifecycle: " +
      "rename + widen + DV delete surface correct files/rows/features") {
    val dir = Files.createTempDirectory("graft-adopt-desc").toString + "/t"
    (1 to 100).map(i => (i, i * 1.0)).toDF("k", "v")
      .repartitionByRange(2, col("k")).write.parquet(dir)
    SnapshotTable.adopt(spark, dir, statsCols = Seq("k"))             // v1
    SnapshotTable.renameColumn(spark, dir, "v", "w")                  // v2
    SnapshotTable.widenColumnType(spark, dir, "k", LongType)          // v3
    SnapshotTable.deleteWithVectors(spark, dir, col("k") <= 10L)      // v4
    SnapshotTable.append(Seq((200L, 9.0)).toDF("k", "w"), dir)        // v5

    val d = SnapshotTable.describeDetail(spark, dir).head()
    assert(d.getAs[Long]("version") === 5L)
    assert(d.getAs[Long]("numFiles") === 3L,
      "2 adopted originals (DV'd, not rewritten) + 1 appended file")
    assert(d.getAs[Long]("sizeInBytes") > 0L)
    assert(d.getAs[Long]("numRows") === 91L,
      "numRows must be net of deletion vectors: 100 - 10 + 1")
    val feats = d.getSeq[String](d.fieldIndex("readerFeatures"))
    assert(feats.contains("column-mapping") && feats.contains("deletion-vectors"),
      s"adopt+rename+DV must surface both features, got $feats")

    val h = SnapshotTable.history(spark, dir)
      .select("version", "operation", "n_files", "n_rows")
      .as[(Long, String, Int, java.lang.Long)].collect().toSeq
    assert(h.map(x => (x._1, x._2)) === Seq(
      (5L, "append"), (4L, "delete_dv"), (3L, "widenColumn"),
      (2L, "renameColumn"), (1L, "adopt")))
    assert(h.find(_._1 === 4L).get._4 === 90L,
      "the DV commit's n_rows must be net of its vectors")
    assert(h.find(_._1 === 1L).get._4 === 100L,
      "the adopt commit records footer row counts for adopted files")
    // reads under the evolved schema still serve (sanity of the walk)
    assert(SnapshotTable.read(spark, dir).filter(col("k") > 10L).count() === 91L)
  }

  test("adopt refuses an existing snapshot table and an empty dir") {
    val dir = Files.createTempDirectory("graft-adopt-bad").toString + "/t"
    Seq((1L, 1.0)).toDF("k", "v").write.parquet(dir)
    SnapshotTable.adopt(spark, dir)
    intercept[IllegalArgumentException] { SnapshotTable.adopt(spark, dir) }
    val empty = Files.createTempDirectory("graft-adopt-empty").toString + "/e"
    SnapshotTable.fs(spark, empty).mkdirs(new org.apache.hadoop.fs.Path(empty))
    intercept[Exception] { SnapshotTable.adopt(spark, empty) }
  }
}
