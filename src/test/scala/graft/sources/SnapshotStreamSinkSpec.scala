package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.lake.SnapshotTable

/** The exactly-once `writeStream.format("graft-snapshot")` sink:
  * source→sink round trips, idempotent epoch replay through a
  * simulated crash window (checkpoint commit log truncated between
  * sink commit and engine ack), CHECK-constraint reject mode, and
  * table creation on first epoch. */
class SnapshotStreamSinkSpec extends SparkTestBase {

  import spark.implicits._

  /** One AvailableNow pass: snapshot-source(src) → snapshot-sink(dst). */
  private def pump(src: String, dst: String, ckpt: String): Unit = {
    val q = spark.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
  }

  private def keysOf(path: String): Seq[Long] =
    SnapshotTable.read(spark, path).select("k").as[Long].collect().toSeq.sorted

  test("source→sink round trip lands every commit's rows exactly once, " +
      "creating the target table on the first epoch") {
    val base = Files.createTempDirectory("graft-sink-rt").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    SnapshotTable.append(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), src)
    SnapshotTable.append(Seq((3L, "c")).toDF("k", "s"), src)

    pump(src, dst, ckpt)
    assert(keysOf(dst) === Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, dst).schema.fieldNames.toSeq === Seq("k", "s"))

    // nothing new: a second pass commits nothing
    val v = SnapshotTable.latestVersion(spark, dst).get
    pump(src, dst, ckpt)
    assert(SnapshotTable.latestVersion(spark, dst).get === v)

    // incremental: only the new commit's rows land
    SnapshotTable.append(Seq((4L, "d")).toDF("k", "s"), src)
    pump(src, dst, ckpt)
    assert(keysOf(dst) === Seq(1L, 2L, 3L, 4L))
  }

  test("crash between sink commit and checkpoint ack: the replayed epoch " +
      "is skipped by the txn watermark — no duplicate rows") {
    val base = Files.createTempDirectory("graft-sink-crash").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    SnapshotTable.append((1L to 100L).map(i => (i, s"r$i")).toDF("k", "s"), src)
    pump(src, dst, ckpt)
    assert(keysOf(dst) === (1L to 100L))

    // simulate the crash window: the sink committed the epoch but the
    // engine never acked it — drop the newest entry of the checkpoint's
    // commit log, so restart replays that epoch against the sink
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())

    val vBefore = SnapshotTable.latestVersion(spark, dst).get
    pump(src, dst, ckpt) // replays the last epoch
    assert(keysOf(dst) === (1L to 100L), "replayed epoch must not duplicate rows")
    assert(SnapshotTable.latestVersion(spark, dst).get === vBefore,
      "skipped replay must publish no new version")
    // and the replay's duplicate files were cleaned up, not orphaned
    assert(SnapshotTable.count(spark, dst) === 100L)
  }

  test("commitStreamEpoch is idempotent per (appId, epoch) and tracks apps independently") {
    val base = Files.createTempDirectory("graft-sink-epoch").toString
    val t = s"$base/t"
    def writeEpochFiles(tag: String): (String, Seq[(String, String, Long)]) = {
      val dir = s"$t/data/c-$tag"
      Seq((10L, tag)).toDF("k", "s").coalesce(1)
        .write.mode("errorifexists").parquet(dir)
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      (dir, Seq((dir, f, 1L)))
    }
    val (_, files1) = writeEpochFiles("e1")
    val schema = Seq((10L, "x")).toDF("k", "s").schema
    assert(SnapshotTable.commitStreamEpoch(spark, t, files1, schema, "appA", 5L)
      === Some(1L))
    // same epoch again (replay): skipped
    val (_, files2) = writeEpochFiles("e2")
    assert(SnapshotTable.commitStreamEpoch(spark, t, files2, schema, "appA", 5L)
      === None)
    // an EARLIER epoch of the same app: also skipped (watermark is max)
    assert(SnapshotTable.commitStreamEpoch(spark, t, files2, schema, "appA", 3L)
      === None)
    // a different app at the same epoch number: commits
    assert(SnapshotTable.commitStreamEpoch(spark, t, files2, schema, "appB", 5L)
      === Some(2L))
    assert(SnapshotTable.streamTxnVersion(spark, t, "appA") === Some(5L))
    assert(SnapshotTable.streamTxnVersion(spark, t, "appB") === Some(5L))
    assert(SnapshotTable.count(spark, t) === 2L)
    // the watermark survives unrelated commits and a branch fork
    SnapshotTable.append(Seq((11L, "y")).toDF("k", "s"), t)
    assert(SnapshotTable.streamTxnVersion(spark, t, "appA") === Some(5L))
    SnapshotTable.createBranch(spark, t, "dev")
    assert(SnapshotTable.streamTxnVersion(spark,
      SnapshotTable.branchHandle(t, "dev"), "appA") === Some(5L))
  }

  test("CHECK constraint rejects a violating microbatch atomically (no partial commit)") {
    val base = Files.createTempDirectory("graft-sink-check").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    SnapshotTable.append(Seq((1L, 10.0)).toDF("k", "v"), dst)
    SnapshotTable.addCheckConstraint(spark, dst, "v_nonneg", "v >= 0")
    SnapshotTable.append(Seq((2L, 5.0), (3L, -1.0)).toDF("k", "v"), src)

    val vBefore = SnapshotTable.latestVersion(spark, dst).get
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      pump(src, dst, ckpt)
    }
    assert(ex.getMessage.contains("v_nonneg") ||
      Option(ex.getCause).exists(_.getMessage.contains("v_nonneg")))
    assert(SnapshotTable.latestVersion(spark, dst).get === vBefore,
      "a rejected batch must not publish any version")
    assert(keysOf(dst) === Seq(1L))
  }

  test("failMode=quarantine diverts violating epoch rows; exactly-once on " +
      "both tables across a crash replay") {
    val base = Files.createTempDirectory("graft-sink-q").toString
    val (src, dst, qt, ckpt) = (s"$base/src", s"$base/dst", s"$base/q", s"$base/ckpt")
    SnapshotTable.append(Seq((1L, 10.0)).toDF("k", "v"), dst)
    SnapshotTable.addCheckConstraint(spark, dst, "v_nonneg", "v >= 0")
    // two source commits → two epochs at maxVersionsPerTrigger=1: the
    // first fully compliant (fast path, no rewrite), the LAST mixed —
    // so the crash replay below re-runs the split epoch
    SnapshotTable.append(Seq((2L, 5.0), (4L, 7.0)).toDF("k", "v"), src)
    SnapshotTable.append(Seq((3L, -1.0), (5L, 9.0)).toDF("k", "v"), src)

    def qpump(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("maxVersionsPerTrigger", 1).load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", ckpt)
        .option("failMode", "quarantine")
        .option("quarantinePath", qt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    qpump()
    assert(keysOf(dst) === Seq(1L, 2L, 4L, 5L))
    val quar = SnapshotTable.read(spark, qt)
    assert(quar.select("k").as[Long].collect().toSeq === Seq(3L))
    assert(quar.select(array_join(col("_violated"), ",")).as[String].head()
      === "v_nonneg")

    // crash window: drop the newest checkpoint commit → the SPLIT
    // epoch replays; both watermarks must skip it
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    require(commits.last.delete() && (!crc.exists() || crc.delete()))
    val (vD, vQ) = (SnapshotTable.latestVersion(spark, dst).get,
      SnapshotTable.latestVersion(spark, qt).get)
    qpump()
    assert(SnapshotTable.latestVersion(spark, dst).get === vD)
    assert(SnapshotTable.latestVersion(spark, qt).get === vQ)
    assert(keysOf(dst) === Seq(1L, 2L, 4L, 5L))
    assert(SnapshotTable.count(spark, qt) === 1L)
  }

  test("failMode=quarantine on a COLUMN-MAPPED target: both sides land under " +
      "physical names; crash replay stays exactly-once") {
    val base = Files.createTempDirectory("graft-sink-qcm").toString
    val (src, dst, qt, ckpt) = (s"$base/src", s"$base/dst", s"$base/q", s"$base/ckpt")
    // target: (k, v, tag) with a constraint on v, then tag RENAMED —
    // files keep physical name "tag" while the logical schema says
    // "label"; the quarantine table is renamed too (its own mapping)
    SnapshotTable.append(Seq((1L, 10.0, "t1")).toDF("k", "v", "tag"), dst)
    SnapshotTable.addCheckConstraint(spark, dst, "v_nonneg", "v >= 0")
    SnapshotTable.renameColumn(spark, dst, "tag", "label")
    SnapshotTable.append(Seq((0L, 0.0, "q0", Seq("seed"))).toDF("k", "v", "tag", "_violated"), qt)
    SnapshotTable.renameColumn(spark, qt, "tag", "label")
    // two epochs at one version per trigger: compliant (fast path on a
    // mapped target), then mixed (the split path on a mapped target)
    SnapshotTable.append(Seq((2L, 5.0, "a"), (4L, 7.0, "b")).toDF("k", "v", "label"), src)
    SnapshotTable.append(Seq((3L, -1.0, "c"), (5L, 9.0, "d")).toDF("k", "v", "label"), src)

    def qpump(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("maxVersionsPerTrigger", 1).load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", ckpt)
        .option("failMode", "quarantine")
        .option("quarantinePath", qt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    qpump()
    assert(keysOf(dst) === Seq(1L, 2L, 4L, 5L))
    // the renamed column's VALUES streamed through both sides (not
    // NULLs), under the LOGICAL name on read
    val got = SnapshotTable.read(spark, dst)
    assert(got.columns.toSeq === Seq("k", "v", "label"))
    assert(got.filter(col("label").isNull).count() === 0L)
    assert(got.filter(col("k") === 5L).select("label").as[String].head() === "d")
    val quar = SnapshotTable.read(spark, qt).filter(col("k") === 3L)
    assert(quar.select("label").as[String].head() === "c")
    assert(quar.select(array_join(col("_violated"), ",")).as[String].head()
      === "v_nonneg")
    // files on BOTH tables store the physical name, never the logical
    val dstSchemas = SnapshotTable.liveFiles(spark, dst)
      .map(f => spark.read.parquet(f).schema.fieldNames.toSeq)
    assert(dstSchemas.forall(s => s.contains("tag") && !s.contains("label")))

    // crash window on the SPLIT epoch: both watermarks must skip
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    require(commits.last.delete() && (!crc.exists() || crc.delete()))
    val (vD, vQ) = (SnapshotTable.latestVersion(spark, dst).get,
      SnapshotTable.latestVersion(spark, qt).get)
    qpump()
    assert(SnapshotTable.latestVersion(spark, dst).get === vD)
    assert(SnapshotTable.latestVersion(spark, qt).get === vQ)
    assert(keysOf(dst) === Seq(1L, 2L, 4L, 5L))
    assert(SnapshotTable.read(spark, qt).filter(col("k") === 3L).count() === 1L)
  }

  test("crash BETWEEN quarantine and main commit: the replayed split epoch " +
      "skips the quarantine side and completes the clean side") {
    val base = Files.createTempDirectory("graft-sink-qcrash").toString
    val (t, qt) = (s"$base/t", s"$base/q")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType)))
    SnapshotTable.append(Seq((1L, 1.0)).toDF("k", "v"), t)
    SnapshotTable.addCheckConstraint(spark, t, "v_nonneg", "v >= 0")

    // the crashed first attempt committed ONLY the quarantine side of
    // epoch 7: its watermark carries (app, 7), main's does not
    val preDir = s"$base/pre"
    Seq((3L, -1.0, Seq("v_nonneg"))).toDF("k", "v", "_violated")
      .coalesce(1).write.parquet(preDir)
    val preFiles = new java.io.File(preDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (preDir, f.getAbsolutePath, 1L)).toSeq
    val qSchema = StructType(schema.fields :+
      StructField("_violated", ArrayType(StringType)))
    assert(SnapshotTable.commitStreamEpoch(spark, qt, preFiles, qSchema,
      "app", 7L) === Some(1L))

    // the engine replays epoch 7 with freshly written mixed files
    val mixDir = s"$base/mix"
    Seq((2L, 5.0), (3L, -1.0)).toDF("k", "v").coalesce(1).write.parquet(mixDir)
    val mixFiles = new java.io.File(mixDir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (mixDir, f.getAbsolutePath, 2L)).toSeq
    val (v, nBad) = SnapshotTable.commitStreamEpochQuarantine(spark, t, qt,
      mixFiles, schema, "app", 7L)
    assert(v.nonEmpty, "the clean side must complete on replay")
    assert(SnapshotTable.read(spark, t).select("k").as[Long].collect().toSeq.sorted
      === Seq(1L, 2L))
    // no double-quarantine: only the pre-crash copy of k=3 exists
    assert(SnapshotTable.count(spark, qt) === 1L)
    assert(SnapshotTable.streamTxnVersion(spark, t, "app") === Some(7L))
    assert(SnapshotTable.streamTxnVersion(spark, qt, "app") === Some(7L))

    // a SECOND full replay (crash after everything): whole-epoch skip
    val (v2, n2) = SnapshotTable.commitStreamEpochQuarantine(spark, t, qt,
      mixFiles, schema, "app", 7L)
    assert(v2 === None && n2 === 0L)
    assert(SnapshotTable.count(spark, qt) === 1L)
    assert(SnapshotTable.read(spark, t).count() === 2L)
  }

  test("sink streams into a hidden-partitioned days(ts) table: layout parity, " +
      "pruning on streamed rows, crash replay") {
    val base = Files.createTempDirectory("graft-sink-hidden").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    val rows = (1L to 40L).map(i => (java.sql.Timestamp.valueOf(
      if (i % 2 == 0) "2024-01-01 08:00:00" else "2024-01-02 09:00:00"), i))
    SnapshotTable.append(rows.toDF("ts", "k"), src)
    // the target's partition spec is fixed by a batch first commit
    SnapshotTable.appendTransformed(
      Seq((java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 100L)).toDF("ts", "k"),
      dst, Seq("days(ts)"))

    pump(src, dst, ckpt)
    assert(keysOf(dst) === ((1L to 40L) :+ 100L))
    // layout parity: the streamed epoch's files live under the SAME
    // __p_ts_day=<v> dirs the batch derivation produces — three days
    // live, every file inside a day dir
    val files = SnapshotTable.liveFiles(spark, dst)
    assert(files.forall(_.contains("__p_ts_day=")), s"unlaid file: ${files.mkString("\n")}")
    val days = files.flatMap(_.split("/").find(_.startsWith("__p_ts_day="))).distinct
    assert(days.size === 3, s"want 3 day dirs, got $days")
    // partition pruning works on streamed rows through readWhere
    val jan1 = SnapshotTable.readWhere(spark, dst,
      col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    assert(jan1.select("k").as[Long].collect().sorted === (2L to 40L by 2).toArray)
    // the user never sees the hidden column
    assert(SnapshotTable.read(spark, dst).columns.toSeq === Seq("ts", "k"))

    // crash window: drop the newest checkpoint commit-log entry so the
    // engine replays the epoch — the watermark must skip it and the
    // replayed flat+re-laid files must not land twice
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())
    val vBefore = SnapshotTable.latestVersion(spark, dst).get
    pump(src, dst, ckpt)
    assert(keysOf(dst) === ((1L to 40L) :+ 100L), "replay duplicated streamed rows")
    assert(SnapshotTable.latestVersion(spark, dst).get === vBefore)

    // incremental epochs keep landing in the layout
    SnapshotTable.append(Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 23:00:00"), 200L)).toDF("ts", "k"), src)
    pump(src, dst, ckpt)
    assert(keysOf(dst).contains(200L))
    assert(SnapshotTable.readWhere(spark, dst,
      col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .select("k").as[Long].collect().sorted === ((2L to 40L by 2) :+ 200L).toArray)
  }

  test("types round-trip through sink then batch read (timestamp/date/bool/binary/null)") {
    val base = Files.createTempDirectory("graft-sink-types").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    val df = Seq(
      (1L, "x", 1.5f, 2.5, true, java.sql.Timestamp.valueOf("2024-03-01 10:30:00.123456"),
        java.sql.Date.valueOf("2024-03-01"), Array[Byte](1, 2, 3)),
      (2L, null.asInstanceOf[String], -0.5f, -3.5, false,
        null.asInstanceOf[java.sql.Timestamp], java.sql.Date.valueOf("2024-12-31"),
        null.asInstanceOf[Array[Byte]]))
      .toDF("k", "s", "f", "d", "b", "ts", "dt", "bin")
    SnapshotTable.append(df, src)
    pump(src, dst, ckpt)
    val got = SnapshotTable.read(spark, dst)
    val want = SnapshotTable.read(spark, src)
    assert(got.schema === want.schema)
    def canon(x: org.apache.spark.sql.DataFrame): Set[String] =
      x.collect().map(r => (0 until r.length).map { i =>
        r.get(i) match {
          case a: Array[Byte] => a.mkString(",")
          case v              => String.valueOf(v)
        }
      }.mkString("|")).toSet
    assert(canon(got) === canon(want))
  }

  test("re-add-after-drop THROUGH THE STREAM mints a fresh physical name — " +
      "dropped bytes never resurface, later epochs reuse the published mapping") {
    val base = Files.createTempDirectory("graft-sink-reAdd").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    SnapshotTable.append(Seq((1L, 10.0)).toDF("k", "v"), dst)  // v1: physical 'v'
    SnapshotTable.dropColumn(spark, dst, "v")                  // v2: tombstones 'v'
    // the stream carries a NEW column with the same logical name
    SnapshotTable.append(Seq((2L, 99.0)).toDF("k", "v"), src)
    pump(src, dst, ckpt)
    val out = SnapshotTable.read(spark, dst)
    assert(out.schema.fieldNames.toSeq === Seq("k", "v"))
    // row 1 predates the re-added column → NULL, NOT the dropped 10.0
    assert(out.filter(col("k") === 1L).select("v").collect().head.isNullAt(0))
    assert(out.filter(col("k") === 2L).select("v").as[Double].head() === 99.0)
    val cm = SnapshotTable.columnMapping(spark, dst)
    assert(cm.get("v").exists(_ != "v"), s"expected a minted physical name, got $cm")
    // a second epoch reuses the PUBLISHED mapping — no re-mint drift
    SnapshotTable.append(Seq((3L, 7.0)).toDF("k", "v"), src)
    pump(src, dst, ckpt)
    assert(SnapshotTable.columnMapping(spark, dst) === cm)
    assert(SnapshotTable.read(spark, dst).filter(col("v").isNotNull).count() === 2L)
  }

  test("streaming a new column whose name a RENAME freed mints around the taken physical") {
    val base = Files.createTempDirectory("graft-sink-renameFree").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    SnapshotTable.append(Seq((1L, 5.0)).toDF("k", "a"), dst)   // v1: physical 'a'
    SnapshotTable.renameColumn(spark, dst, "a", "b")           // v2: 'b' -> physical 'a'
    // new logical 'a': its identity physical name is b's on-disk data
    SnapshotTable.append(Seq((2L, 6.0, 7.0)).toDF("k", "b", "a"), src)
    pump(src, dst, ckpt)
    val out = SnapshotTable.read(spark, dst)
    assert(out.schema.fieldNames.sorted.toSeq === Seq("a", "b", "k"))
    assert(out.filter(col("k") === 1L).select("b").as[Double].head() === 5.0)
    assert(out.filter(col("k") === 2L).select("b").as[Double].head() === 6.0)
    assert(out.filter(col("k") === 2L).select("a").as[Double].head() === 7.0)
    assert(out.filter(col("k") === 1L).select("a").collect().head.isNullAt(0))
    val cm = SnapshotTable.columnMapping(spark, dst)
    assert(cm.get("b").contains("a") && cm.get("a").exists(p => p != "a"),
      s"expected b->a and a minted name for 'a', got $cm")
  }

  test("an epoch written under a mapping a concurrent DROP made stale fails " +
      "and publishes nothing — the dropped column's bytes never get a name back") {
    val base = Files.createTempDirectory("graft-sink-staleMap").toString
    val t = s"$base/t"
    SnapshotTable.append(Seq((1L, "x")).toDF("k", "tag"), t)
    SnapshotTable.renameColumn(spark, t, "tag", "label")        // label -> physical 'tag'
    // the epoch starts: its writers capture the mapping, then a DROP lands
    val schema = Seq(2L).toDF("k").schema
    val cm = SnapshotTable.streamWriteMapping(spark, t, schema)
    assert(cm === Map("label" -> "tag"))
    SnapshotTable.dropColumn(spark, t, "label")                 // tombstones 'tag'
    val dir = s"$t/data/c-stale"
    Seq(2L).toDF("k").coalesce(1).write.parquet(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (dir, f.getAbsolutePath, 1L)).toSeq
    val v = SnapshotTable.latestVersion(spark, t)
    intercept[IllegalArgumentException] {
      SnapshotTable.commitStreamEpoch(spark, t, files, schema, "app", 0L, writtenColmap = cm)
    }
    assert(SnapshotTable.latestVersion(spark, t) === v)
    // a later ADD of the same name must read NULL, not the dropped bytes
    SnapshotTable.addColumns(spark, t, Seq(org.apache.spark.sql.types.StructField(
      "label", org.apache.spark.sql.types.StringType)))
    assert(SnapshotTable.read(spark, t).filter(col("label").isNotNull).count() === 0L)
  }

  // ---- IDENTITY / GENERATED targets: the batch write funnel ----

  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.util.IdentityColumn

  private def idField(name: String): StructField =
    StructField(name, LongType, nullable = true, new MetadataBuilder()
      .putLong(IdentityColumn.IDENTITY_INFO_START, 1L)
      .putLong(IdentityColumn.IDENTITY_INFO_STEP, 1L)
      .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, false)
      .build())

  private def sids(path: String): Seq[Long] =
    SnapshotTable.read(spark, path).select("sid").as[Long].collect().toSeq.sorted

  test("sink into an IDENTITY table: epochs assign dense unique values, " +
      "the watermark persists across epochs") {
    val base = Files.createTempDirectory("graft-sink-ident").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    SnapshotTable.create(spark, dst, StructType(Seq(
      idField("sid"), StructField("k", LongType), StructField("s", StringType))))
    SnapshotTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), src)
    pump(src, dst, ckpt)
    assert(sids(dst) === (1L to 3L), "first epoch assigns 1..3")
    // a second epoch continues from the published watermark
    SnapshotTable.append(Seq((4L, "d"), (5L, "e")).toDF("k", "s"), src)
    pump(src, dst, ckpt)
    assert(sids(dst) === (1L to 5L),
      "second epoch must continue the watermark with no gap or overlap")
    assert(keysOf(dst) === (1L to 5L))
  }

  test("crash replay on an IDENTITY target: the skipped epoch re-assigns " +
      "nothing — no duplicate or gapped values") {
    val base = Files.createTempDirectory("graft-sink-identcrash").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    SnapshotTable.create(spark, dst, StructType(Seq(
      idField("sid"), StructField("k", LongType), StructField("s", StringType))))
    SnapshotTable.append((1L to 100L).map(i => (i, s"r$i")).toDF("k", "s"), src)
    pump(src, dst, ckpt)
    assert(sids(dst) === (1L to 100L))
    // crash window: sink committed, engine never acked — drop the
    // newest checkpoint commit so restart replays the epoch
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) assert(crc.delete())
    val vBefore = SnapshotTable.latestVersion(spark, dst).get
    pump(src, dst, ckpt)
    assert(sids(dst) === (1L to 100L),
      "replayed epoch must not re-assign identity values")
    assert(SnapshotTable.latestVersion(spark, dst).get === vBefore)
    // and the watermark did not burn values on the replay
    SnapshotTable.append(Seq((999L, "z")).toDF("k", "s"), src)
    pump(src, dst, ckpt)
    assert(sids(dst) === (1L to 101L),
      "post-replay epoch continues exactly at the watermark")
  }

  test("IDENTITY x hidden partitioning x row tracking compose through one epoch " +
      "(enrichment feeds the transform re-lay; rid bases ride the same CAS)") {
    val base = Files.createTempDirectory("graft-sink-identbucket").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    // partition ON the identity column: the transform layout must see
    // assigned values, which only works if identity assignment runs first
    SnapshotTable.create(spark, dst, StructType(Seq(
      idField("sid"), StructField("k", LongType), StructField("s", StringType))),
      transformSpecs = Seq("bucket(4, sid)"), rowTracking = true)
    SnapshotTable.append((1L to 20L).map(i => (i, s"r$i")).toDF("k", "s"), src)
    pump(src, dst, ckpt)
    assert(sids(dst) === (1L to 20L))
    val withIds = SnapshotTable.readWithRowIds(spark, dst)
    assert(withIds.select(SnapshotTable.RowIdCol).as[Long]
      .collect().toSeq.sorted === (0L until 20L),
      "row-id bases must cover the re-laid epoch files densely")
    // bucket pruning works on the assigned values (4 bucket dirs)
    val files = SnapshotTable.liveFiles(spark, dst)
    assert(files.forall(_.contains("__p_sid_bucket=")),
      s"epoch files must land in the transform layout, got ${files.take(2)}")
  }

  test("quarantine split on a ROW-TRACKING target: rid bases cover only the " +
      "committed rows; watermark never counts quarantined rows; stable across replay") {
    val base = Files.createTempDirectory("graft-sink-q-rid").toString
    val (src, dst, qt, ckpt) = (s"$base/src", s"$base/dst", s"$base/q", s"$base/ckpt")
    SnapshotTable.create(spark, dst, StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType))),
      rowTracking = true)
    SnapshotTable.addCheckConstraint(spark, dst, "v_nonneg", "v >= 0")
    SnapshotTable.append(Seq((1L, 10.0)).toDF("k", "v"), dst)
    // two epochs: clean, then mixed (2 violations of 4 rows)
    SnapshotTable.append(Seq((2L, 5.0), (4L, 7.0)).toDF("k", "v"), src)
    SnapshotTable.append(
      Seq((3L, -1.0), (5L, 9.0), (6L, -2.0), (7L, 4.0)).toDF("k", "v"), src)
    def qpump(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("maxVersionsPerTrigger", 1).load(src)
        .writeStream.format("graft-snapshot")
        .option("checkpointLocation", ckpt)
        .option("failMode", "quarantine")
        .option("quarantinePath", qt)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    qpump()
    assert(keysOf(dst) === Seq(1L, 2L, 4L, 5L, 7L))
    assert(SnapshotTable.read(spark, qt).select("k").as[Long]
      .collect().toSeq.sorted === Seq(3L, 6L))
    val ids = SnapshotTable.readWithRowIds(spark, dst)
      .select(col("k"), col(SnapshotTable.RowIdCol)).as[(Long, Long)]
      .collect().toMap
    // dense over COMMITTED rows only: 5 rows -> ids 0..4, and the
    // watermark advanced by exactly the committed count (a quarantined
    // row must never consume an id)
    assert(ids.values.toSeq.sorted === (0L until 5L),
      s"rid bases must cover committed rows densely: $ids")
    assert(SnapshotTable.nextRowId(spark, dst) === 5L,
      "watermark must count only committed rows")
    // crash window on the split epoch: ids and watermark are stable
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    require(commits.last.delete() && (!crc.exists() || crc.delete()))
    qpump()
    val after = SnapshotTable.readWithRowIds(spark, dst)
      .select(col("k"), col(SnapshotTable.RowIdCol)).as[(Long, Long)]
      .collect().toMap
    assert(after === ids, "replayed split epoch must not renumber or re-commit")
    assert(SnapshotTable.nextRowId(spark, dst) === 5L)
    assert(SnapshotTable.count(spark, qt) === 2L)
  }
}
