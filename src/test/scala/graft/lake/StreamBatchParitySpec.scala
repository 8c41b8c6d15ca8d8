package graft.lake

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.{GeneratedColumn, IdentityColumn}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** One commit loop for batch and streaming writes: for every write
  * feature, rows streamed through the `graft-snapshot` sink into one
  * table and the same rows `append`ed into its twin leave the twins
  * alike — rows, identity values, partition directories, recorded
  * schema and column mapping, row ids and the row-id watermark,
  * blooms — and a replayed epoch publishes nothing. Then direct epoch
  * commits race batch appends on an identity table. */
class StreamBatchParitySpec extends SparkTestBase {

  import spark.implicits._

  private def idField(name: String): StructField =
    StructField(name, LongType, nullable = true, new MetadataBuilder()
      .putLong(IdentityColumn.IDENTITY_INFO_START, 1L)
      .putLong(IdentityColumn.IDENTITY_INFO_STEP, 1L)
      .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, false)
      .build())

  private def genField(name: String, dt: DataType, e: String): StructField =
    StructField(name, dt, nullable = true, new MetadataBuilder()
      .putString(GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY, e).build())

  private def latest(path: String): SnapshotTable.Manifest =
    SnapshotTable.readManifestFull(spark, path, SnapshotTable.latestVersion(spark, path).get)

  /** Partition directories of the live files, relative to their commit dirs. */
  private def partitionDirs(path: String): Set[String] =
    latest(path).entries.map(e => e.filePath.stripPrefix(e.commitDir)
      .split("/").filter(_.contains("=")).mkString("/")).toSet

  private def rowsOf(path: String): Seq[String] =
    SnapshotTable.read(spark, path).collect().map(_.toString).toSeq.sorted

  /** One AvailableNow pass of `src` into `dst`, one epoch per source commit. */
  private def pump(src: String, dst: String, ckpt: String): Unit =
    spark.readStream.format("graft-snapshot").option("maxVersionsPerTrigger", 1)
      .load(src).writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .start(dst).awaitTermination()

  /** Streams each chunk into one table and appends it to the other,
    * both prepared by `setup`; checks the twins alike, then replays the
    * last epoch and checks it published nothing. */
  private def parity(name: String, chunks: Seq[DataFrame])(setup: String => Unit)
      : (String, String) = {
    val base = Files.createTempDirectory(s"graft-parity-$name").toString
    val (src, streamed, batched, ckpt) =
      (s"$base/src", s"$base/s", s"$base/b", s"$base/ckpt")
    setup(streamed)
    setup(batched)
    chunks.foreach { c =>
      SnapshotTable.append(c.coalesce(1), src)
      pump(src, streamed, ckpt)
      SnapshotTable.append(c.coalesce(1), batched)
    }
    val (s, b) = (latest(streamed), latest(batched))
    assert(rowsOf(streamed) === rowsOf(batched), s"$name: rows")
    // nullability is advisory (the drift gate ignores it): a local
    // frame's primitive columns are NOT NULL, a stream's are nullable
    def fields(m: SnapshotTable.Manifest) = m.schema.get.fields.map(f => f.copy(nullable = true))
    assert(fields(s) === fields(b), s"$name: recorded schema")
    assert(s.colmap === b.colmap, s"$name: column mapping")
    assert(partitionDirs(streamed) === partitionDirs(batched), s"$name: partition dirs")
    assert(s.rowIdHigh === b.rowIdHigh, s"$name: row-id watermark")
    if (s.rowIdHigh.isDefined) {
      def ids(p: String) = SnapshotTable.readWithRowIds(spark, p)
        .select(SnapshotTable.RowIdCol).as[Long].collect().toSeq.sorted
      assert(ids(streamed) === (0L until s.rowIdHigh.get), s"$name: row ids")
      assert(ids(batched) === ids(streamed), s"$name: row ids")
    }
    for (t <- Seq(s, b); e <- t.entries if e.rows > 0)
      assert(e.blooms.map(_._1).toSet === t.bloomCols.map(t.phys).toSet,
        s"$name: blooms of ${e.filePath}")
    assert(SnapshotTable.streamTxnVersion(spark, streamed,
      s.txns.keys.head) === Some(chunks.size - 1L), s"$name: watermark")
    // the sink's crash window: the engine never acked the last epoch,
    // so restart replays it — and the replay publishes nothing
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(commits.last.getParentFile, s".${commits.last.getName}.crc")
    require(commits.last.delete() && (!crc.exists() || crc.delete()))
    val v = SnapshotTable.latestVersion(spark, streamed)
    pump(src, streamed, ckpt)
    assert(SnapshotTable.latestVersion(spark, streamed) === v, s"$name: replay published")
    assert(rowsOf(streamed) === rowsOf(batched), s"$name: replay changed rows")
    (streamed, batched)
  }

  private val kv = Seq(
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"),
    Seq((4L, "d"), (5L, "e")).toDF("k", "s"))

  test("plain table") {
    parity("plain", kv)(_ => ())
  }

  test("CHECK constraint") {
    parity("check", kv) { p =>
      SnapshotTable.append(Seq((0L, "z")).toDF("k", "s"), p)
      SnapshotTable.addCheckConstraint(spark, p, "k_nonneg", "k >= 0")
    }
  }

  test("identity column") {
    val (s, _) = parity("identity", kv) { p =>
      SnapshotTable.create(spark, p, StructType(Seq(
        idField("sid"), StructField("k", LongType), StructField("s", StringType))))
    }
    assert(SnapshotTable.read(spark, s).select("sid").as[Long].collect().sorted
      === (1L to 5L).toArray)
  }

  test("generated column") {
    val (s, _) = parity("generated", kv) { p =>
      SnapshotTable.create(spark, p, StructType(Seq(StructField("k", LongType),
        StructField("s", StringType), genField("k2", LongType, "k * 2"))))
    }
    assert(SnapshotTable.read(spark, s).filter(col("k2") =!= col("k") * 2).count() === 0L)
  }

  test("days() and bucket() transforms") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(s"2024-01-0$d 10:00:00")
    val chunks = Seq(
      Seq((1L, ts(1)), (2L, ts(2)), (3L, ts(1))).toDF("k", "ts"),
      Seq((4L, ts(3)), (5L, ts(2))).toDF("k", "ts"))
    val (s, _) = parity("transforms", chunks) { p =>
      SnapshotTable.create(spark, p, StructType(Seq(StructField("k", LongType),
        StructField("ts", TimestampType))), transformSpecs = Seq("days(ts)", "bucket(2, k)"))
    }
    assert(partitionDirs(s).forall(d => d.contains("__p_ts_day=") && d.contains("__p_k_bucket=")))
    assert(SnapshotTable.read(spark, s).columns.toSeq === Seq("k", "ts"))
  }

  test("column mapping: a renamed column and a re-added dropped one") {
    val chunks = Seq(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "label", "v"),
      Seq((3L, "c", 3.0)).toDF("k", "label", "v"))
    val (s, _) = parity("colmap", chunks) { p =>
      SnapshotTable.append(Seq((0L, "z", 9.0)).toDF("k", "tag", "v"), p)
      SnapshotTable.renameColumn(spark, p, "tag", "label")
      SnapshotTable.dropColumn(spark, p, "v")
    }
    val cm = latest(s).colmap
    assert(cm.get("label").contains("tag") && cm.get("v").exists(_ != "v"), s"$cm")
    assert(SnapshotTable.read(spark, s).filter(col("k") === 0L)
      .select("v").collect().head.isNullAt(0), "the dropped bytes must not resurface")
  }

  test("row tracking") {
    parity("rowtracking", kv) { p =>
      SnapshotTable.create(spark, p, StructType(Seq(StructField("k", LongType),
        StructField("s", StringType))), rowTracking = true)
    }
  }

  test("bloom columns") {
    val (s, _) = parity("blooms", kv) { p =>
      SnapshotTable.create(spark, p, StructType(Seq(StructField("k", LongType),
        StructField("s", StringType))))
      SnapshotTable.setBloomColumns(spark, p, Seq("k", "s"))
    }
    assert(latest(s).entries.count(_.blooms.nonEmpty) === 2)
  }

  test("epoch commits racing batch appends on an IDENTITY table: no epoch " +
      "fails, values unique, watermark = sum of rows") {
    val path = Files.createTempDirectory("graft-parity-race").toString + "/t"
    SnapshotTable.create(spark, path, StructType(Seq(idField("sid"),
      StructField("k", StringType))))
    val schema = StructType(Seq(StructField("k", StringType)))
    val errs = new ConcurrentLinkedQueue[Throwable]()
    // what the sink does per epoch: flat files written first, then one
    // commitStreamEpoch call carrying the epoch watermark
    def epochs(app: String): Thread = new Thread(() =>
      try (1 to 3).foreach { e =>
        val dir = s"${SnapshotTable.dataDirOf(path)}/c-$app-$e"
        (1 to 4).map(r => s"$app-$e-$r").toDF("k").coalesce(1).write.parquet(dir)
        val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
          .map(x => (dir, x.getAbsolutePath, 4L)).toSeq
        assert(SnapshotTable.commitStreamEpoch(spark, path, f, schema, app, e.toLong).nonEmpty)
      } catch { case t: Throwable => errs.add(t); () })
    // a batch append's contract under a lost identity race is to rerun
    def appends(tid: Int): Thread = new Thread(() =>
      try (1 to 2).foreach { j =>
        var done = false
        var tries = 0
        while (!done) {
          try {
            SnapshotTable.append((1 to 3).map(r => s"b$tid-$j-$r").toDF("k").coalesce(1), path)
            done = true
          } catch {
            case _: SnapshotTable.WriteFunnelChanged if tries < 50 => tries += 1
          }
        }
      } catch { case t: Throwable => errs.add(t); () })
    val threads = Seq(epochs("s1"), epochs("s2")) ++ (1 to 3).map(appends)
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"a contended write failed: ${errs.peek()}")
    val total = 2 * 3 * 4 + 3 * 2 * 3
    val sids = SnapshotTable.read(spark, path).select("sid").as[Long].collect().toSeq.sorted
    assert(sids === (1L to total.toLong), "values must be unique and dense")
    val high = latest(path).schema.get("sid").metadata.getLong(SnapshotTable.IdentityHighKey)
    assert(high === total + 1L, "the watermark must advance by exactly the rows written")
    // no dir is left behind: each flat epoch dir was dropped once its
    // rewrite published, and each rewrite that lost a race dropped its own
    val live = latest(path).entries.map(e => new org.apache.hadoop.fs.Path(e.commitDir).getName)
    val dirs = new java.io.File(SnapshotTable.dataDirOf(path)).listFiles().map(_.getName)
    assert(dirs.toSet === live.toSet)
  }
}
