package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.lake.SnapshotTable
import graft.model.Tables

/** Source→sink→sync composition: a quantized ANN index maintained off
  * a corpus table FED BY the exactly-once streaming sink. Proves that
  * the sink's (queryId→epoch) txn watermark and the sync's CDC
  * checkpoint compose — a crash-replayed epoch publishes nothing, so
  * the change feed never surfaces a duplicate commit and the index
  * converges to exactly quantize(corpus) after every sync — and that
  * `array<float>` embedding columns round-trip the sink codec
  * bit-for-bit (the vector-column surface an ANN pipeline streams). */
class AnnStreamSyncSpec extends SparkTestBase {

  import spark.implicits._

  private def pump(src: String, dst: String, ckpt: String): Unit = {
    val q = spark.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
  }

  test("stream embeddings through the sink with interleaved index sync and crash replay") {
    val base = Files.createTempDirectory("graft-ann-stream").toString
    val (src, corpus, ckpt) = (s"$base/src", s"$base/corpus", s"$base/ckpt")
    val (index, syncCkpt) = (s"$base/index", s"$base/sync-ckpt")
    val emb = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")

    def assertConverged(expectRows: Long): Unit = {
      val got = SnapshotTable.read(spark, index).select("vec_id", "scale", "qvec")
      val want = Similarity.quantize(
        SnapshotTable.read(spark, corpus).select("vec_id", "embedding"))
      assert(got.count() === expectRows)
      assert(got.exceptAll(want).count() === 0 &&
        want.exceptAll(got).count() === 0, "index != quantize(corpus)")
    }

    // epoch 1: embeddings flow source→sink; vectors must round-trip
    // the sink codec exactly (quantization depends on every float bit)
    SnapshotTable.append(emb.filter(col("vec_id") < 200), src)
    pump(src, corpus, ckpt)
    val landed = SnapshotTable.read(spark, corpus)
    assert(landed.count() === 200L)
    assert(landed.exceptAll(emb.filter(col("vec_id") < 200)).count() === 0,
      "embedding arrays must round-trip the sink bit-for-bit")
    assert(Ivf.syncQuantizedIndex(spark, corpus, index, syncCkpt).isDefined)
    assertConverged(200L)

    // epoch 2 + CRASH WINDOW: drop the newest checkpoint commit-log
    // entry so the engine replays the epoch. The sink watermark skips
    // the replay (no new corpus commit), so the sync's CDC cursor
    // sees each corpus commit exactly once — no duplicate upserts,
    // no merge duplicate-key failure.
    SnapshotTable.append(
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 300), src)
    pump(src, corpus, ckpt)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())
    pump(src, corpus, ckpt) // replayed epoch: watermark-skipped
    assert(SnapshotTable.read(spark, corpus).count() === 300L)
    assert(Ivf.syncQuantizedIndex(spark, corpus, index, syncCkpt).isDefined)
    assertConverged(300L)

    // quiescent: nothing new on either side
    assert(Ivf.syncQuantizedIndex(spark, corpus, index, syncCkpt).isEmpty)
    assertConverged(300L)

    // the maintained index serves identically to an ad-hoc search
    val live = SnapshotTable.read(spark, corpus).select("vec_id", "embedding")
    val model = Ivf.train(live, k = 8, iters = 3, sampleSize = 500)
    val viaIndex = Ivf.searchQuantizedIndexed(live,
      SnapshotTable.read(spark, index).select("vec_id", "scale", "qvec"),
      model, Seq(10L, 250L), k = 5).collect().toSet
    val adhoc = Ivf.searchQuantized(live, model, Seq(10L, 250L), k = 5)
      .collect().toSet
    assert(viaIndex === adhoc)
  }

  test("streaming maintainer: the index follows the corpus through the graft-changes feed") {
    val base = Files.createTempDirectory("graft-ann-cdfstream").toString
    val (corpus, index, ckpt) = (s"$base/corpus", s"$base/index", s"$base/cdf-ckpt")
    val emb = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")

    def assertConverged(expectRows: Long): Unit = {
      val got = SnapshotTable.read(spark, index).select("vec_id", "scale", "qvec")
      val want = Similarity.quantize(
        SnapshotTable.read(spark, corpus).select("vec_id", "embedding"))
      assert(got.count() === expectRows)
      assert(got.exceptAll(want).count() === 0 &&
        want.exceptAll(got).count() === 0, "index != quantize(corpus)")
    }
    def drain(): Unit =
      Ivf.syncQuantizedIndexStream(spark, corpus, index, ckpt)
        .awaitTermination()

    // bootstrap: the stream builds the index from the corpus history
    SnapshotTable.append(emb.filter(col("vec_id") < 200), corpus)
    drain()
    assertConverged(200L)
    // trickle: an update (merge → CDF images) and a delete, one drain
    SnapshotTable.merge(
      emb.filter(col("vec_id") < 10)
        .withColumn("embedding", reverse(col("embedding"))),
      corpus, Seq("vec_id"))
    SnapshotTable.delete(spark, corpus, col("vec_id") >= 190)
    drain()
    assertConverged(190L)
    // quiescent drain: no new commits, index untouched
    val vBefore = SnapshotTable.latestVersion(spark, index)
    drain()
    assert(SnapshotTable.latestVersion(spark, index) === vBefore)
    assertConverged(190L)
  }

  test("delete wave past the collect cap routes through the distributed anti-join delete") {
    val base = Files.createTempDirectory("graft-ann-bigdel").toString
    val (corpus, index, syncCkpt) = (s"$base/corpus", s"$base/index", s"$base/sync-ckpt")
    val emb = Tables.embeddings(spark, sf0001).select("vec_id", "embedding")
      .filter(col("vec_id") < 300)
    SnapshotTable.append(emb, corpus)
    assert(Ivf.syncQuantizedIndex(spark, corpus, index, syncCkpt).isDefined)
    assert(SnapshotTable.read(spark, index).count() === 300L)
    // a retention wave deletes half the corpus: the sync must
    // converge in one distributed clause-merge, collecting no ids
    SnapshotTable.delete(spark, corpus, col("vec_id") < 150)
    assert(Ivf.syncQuantizedIndex(spark, corpus, index, syncCkpt).isDefined)
    val got = SnapshotTable.read(spark, index).select("vec_id", "scale", "qvec")
    val want = Similarity.quantize(
      SnapshotTable.read(spark, corpus).select("vec_id", "embedding"))
    assert(got.count() === 150L)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "index != quantize(corpus) after the big-delete sync")
    // replaying the same drained batch is a no-op (cursor advanced)
    assert(Ivf.syncQuantizedIndex(spark, corpus, index, syncCkpt).isEmpty)
    assert(SnapshotTable.read(spark, index).count() === 150L)
  }
}
