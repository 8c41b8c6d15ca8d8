package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[SnapshotTable.merge]] keeps its own rewrite plan rather than
  * running as the equivalent clause merge, which measured ~50% slower
  * per statement (numbers in merge's scaladoc). This pins that plan's
  * exchanges, so a later fold cannot regress it silently. */
class MergePlanSpec extends SparkTestBase {
  import spark.implicits._

  /** (shuffle, broadcast) exchanges in the frame's initial physical plan. */
  private def exchanges(df: DataFrame): (Int, Int) = {
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    (plan.collect { case e: ShuffleExchangeExec => e }.size,
      plan.collect { case e: BroadcastExchangeExec => e }.size)
  }

  test("merge's rewrite frame plans a key-count aggregate and a union, no more") {
    val got = Seq(false, true).map { tracking =>
      val dir = Files.createTempDirectory("graft-mplan").toString
      val path = s"$dir/t"
      if (tracking) {
        SnapshotTable.create(spark, path,
          (0 until 2).map(i => (i.toLong, "x")).toDF("k", "v").schema, rowTracking = true)
      }
      // merge records key stats, so the source keys prune to 2 of 4 files
      SnapshotTable.merge((0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), path, Seq("k"))
      // a file-backed source, as the statements of a pipeline have
      (Seq(5L, 150L) ++ (1000L until 1010L)).map(k => (k, "new")).toDF("k", "v")
        .write.parquet(s"$dir/src")
      val src = spark.read.parquet(s"$dir/src")
      val rw = SnapshotTable.rewriteAt(spark, path).get
      val (rewrite, frame) = SnapshotTable.mergeFrame(rw, src, Seq("k"))
      assert(rewrite.size === 2 && rw.entries.size === 4)
      assert(frame.count() === rewrite.map(_.rows).sum - 2 + 12)
      tracking -> exchanges(frame)
    }.toMap
    // plain: the key-count aggregate's shuffle and the broadcast join of
    // its result; tracked: the row-id inheritance aggregate and its
    // broadcast join on top
    assert(got === Map(false -> (1, 1), true -> (2, 2)),
      "merge's rewrite frame changed its (shuffle, broadcast) exchanges")
  }
}
