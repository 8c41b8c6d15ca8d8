package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.IdentityColumn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** IDENTITY columns (`GENERATED ALWAYS / BY DEFAULT AS IDENTITY`,
  * Delta's shape): declared at CREATE TABLE; ingest writes assign
  * `high + step * ordinal` over one zipWithIndex pass and advance the
  * high watermark in the same commit (schema metadata, so every
  * commit path carries it and RESTORE rewinds it); values are unique
  * and monotone per table — contiguity across commits is not promised
  * (gaps, like Delta). ALWAYS refuses provided values; BY DEFAULT
  * keeps them (without advancing the watermark — the documented Delta
  * caveat). Merge fills inserted rows only; rewrites preserve. */
class IdentityColumnsSpec extends SparkTestBase {

  import spark.implicits._

  private def idField(name: String, dt: DataType = LongType,
      start: Long = 1L, step: Long = 1L, allow: Boolean = false): StructField =
    StructField(name, dt, nullable = true, new MetadataBuilder()
      .putLong(IdentityColumn.IDENTITY_INFO_START, start)
      .putLong(IdentityColumn.IDENTITY_INFO_STEP, step)
      .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, allow)
      .build())

  private def mk(dir: String, start: Long = 1L, step: Long = 1L,
      allow: Boolean = false): String = {
    val path = s"$dir/t"
    SnapshotTable.create(spark, path, StructType(Seq(
      idField("id", start = start, step = step, allow = allow),
      StructField("v", DoubleType))))
    path
  }

  test("ingest assigns unique monotone values; the watermark persists across commits") {
    val path = mk(Files.createTempDirectory("graft-id1").toString)
    SnapshotTable.append(Seq(10.0, 20.0, 30.0).toDF("v"), path)
    SnapshotTable.append(Seq(40.0, 50.0).toDF("v"), path)
    val got = SnapshotTable.read(spark, path).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L),
      "values must continue from the persisted watermark, no reuse")
    assert(got.map(_._2).sorted === Seq(10.0, 20.0, 30.0, 40.0, 50.0))
  }

  test("START WITH / INCREMENT BY are honored, including negative steps") {
    val path = mk(Files.createTempDirectory("graft-id2").toString,
      start = 100L, step = -5L)
    SnapshotTable.append(Seq(1.0, 2.0).toDF("v"), path)
    SnapshotTable.append(Seq(3.0).toDF("v"), path)
    assert(SnapshotTable.read(spark, path).select("id")
      .as[Long].collect().sorted.toSeq === Seq(90L, 95L, 100L))
  }

  test("GENERATED ALWAYS refuses provided values; NULLs derive; BY DEFAULT keeps them") {
    val always = mk(Files.createTempDirectory("graft-id3").toString)
    val e = intercept[Exception] {
      SnapshotTable.append(Seq((77L, 1.0)).toDF("id", "v"), always)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("GENERATED ALWAYS")))
    // analyzer-style null-fill derives
    SnapshotTable.append(Seq((null.asInstanceOf[java.lang.Long], 1.0))
      .toDF("id", "v"), always)
    assert(SnapshotTable.read(spark, always).select("id")
      .as[Long].collect().toSeq === Seq(1L))

    val byDefault = mk(Files.createTempDirectory("graft-id4").toString,
      allow = true)
    SnapshotTable.append(Seq((77L, 1.0)).toDF("id", "v"), byDefault)
    SnapshotTable.append(Seq(2.0).toDF("v"), byDefault) // omitted → generated
    // explicit rows still advance the watermark by row count (gap-
    // tolerant) but never PAST a larger explicit value — the Delta
    // SYNC IDENTITY caveat, documented
    assert(SnapshotTable.read(spark, byDefault).select("id")
      .as[Long].collect().sorted.toSeq === Seq(2L, 77L))
  }

  test("merge fills inserted rows; updated rows keep their identity; DML cannot touch it") {
    val path = mk(Files.createTempDirectory("graft-id5").toString)
    SnapshotTable.append(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
      .coalesce(1), path)
    val ids0 = SnapshotTable.read(spark, path).select("k", "id")
      .as[(String, Long)].collect().toMap
    // update 'a', insert 'c' — 'a' keeps its id, 'c' gets a fresh one
    SnapshotTable.merge(Seq(("a", 10.0), ("c", 3.0)).toDF("k", "v"),
      path, Seq("k"))
    val ids1 = SnapshotTable.read(spark, path).select("k", "id")
      .as[(String, Long)].collect().toMap
    assert(ids1("a") === ids0("a"), "updated row must keep its identity value")
    assert(ids1("b") === ids0("b"))
    assert(!ids0.values.toSet.contains(ids1("c")),
      "inserted row must get a fresh identity value")
    // a merge source providing an ALWAYS identity column is refused
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.merge(Seq((999L, "d", 4.0)).toDF("id", "k", "v"),
        path, Seq("k"))
    }.getMessage.contains("IDENTITY"))
    // UPDATE SET on the identity column is refused
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.update(spark, path, Seq("id" -> lit(0L)), lit(true))
    }.getMessage.contains("IDENTITY"))
    // delete + compact preserve values (pure rewrites)
    SnapshotTable.delete(spark, path, col("k") === "b")
    SnapshotTable.compact(spark, path, numFiles = 1)
    val ids2 = SnapshotTable.read(spark, path).select("k", "id")
      .as[(String, Long)].collect().toMap
    assert(ids2("a") === ids1("a") && ids2("c") === ids1("c"))
  }

  test("creation validates; later add is refused; the sink assigns") {
    val dir = Files.createTempDirectory("graft-id6").toString
    assert(intercept[Exception](SnapshotTable.create(spark, s"$dir/bad1",
      StructType(Seq(idField("id", DoubleType), StructField("v", DoubleType)))))
      .getMessage.contains("BIGINT"))
    // INT identity refused (Delta's BIGINT-only rule): Long
    // `high + step * ordinal` cast to INT would silently wrap past
    // Int.MaxValue under non-ANSI eval while the Long watermark keeps
    // advancing — the collision guard could never see the duplicates
    assert(intercept[Exception](SnapshotTable.create(spark, s"$dir/badInt",
      StructType(Seq(idField("id", IntegerType), StructField("v", DoubleType)))))
      .getMessage.contains("BIGINT"))
    assert(intercept[Exception](SnapshotTable.create(spark, s"$dir/bad2",
      StructType(Seq(idField("id", step = 0L), StructField("v", DoubleType)))))
      .getMessage.contains("nonzero"))
    val path = mk(dir)
    SnapshotTable.append(Seq(1.0).toDF("v"), path)
    assert(intercept[Exception](SnapshotTable.addColumns(spark, path,
      Seq(idField("id2")))).getMessage.contains("creation"))
    // streaming sink ASSIGNS identity values through the batch write
    // funnel (exactly-once coverage: SnapshotStreamSinkSpec)
    val src = s"$dir/src"
    SnapshotTable.append(Seq(9.0).toDF("v"), src)
    val q = spark.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("path", path)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = SnapshotTable.read(spark, path)
      .filter(col("v") === 9.0).select("id").as[Long].collect()
    assert(streamed.length === 1 && streamed.head > 0L,
      s"the epoch must assign the identity value, got ${streamed.toSeq}")
  }

  test("quarantine split refuses a CHECK referencing an unprovided identity " +
      "column loudly (values exist only after commit-time assignment)") {
    val dir = Files.createTempDirectory("graft-id-q").toString
    val path = mk(dir)
    SnapshotTable.append(Seq(1.0).toDF("v"), path)
    SnapshotTable.addCheckConstraint(spark, path, "id_pos", "id > 0")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.appendQuarantine(Seq(2.0).toDF("v"), path, s"$dir/q")
    }
    assert(e.getMessage.contains("identity column"))
    // providing the column is also refused for GENERATED ALWAYS — the
    // rejecting API (plain append) remains the supported route
    assert(SnapshotTable.append(Seq(3.0).toDF("v"), path) > 0L)
  }

  test("random append x merge x delete x compact plans keep identity values " +
      "UNIQUE and STABLE for surviving keys (3 seeds)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    (61L to 63L).foreach { seed =>
      val path = mk(java.nio.file.Files
        .createTempDirectory(s"graft-idfuzz-$seed").toString)
      // model: key -> (identity value once observed, latest v)
      var pinned = Map[String, Long]() // key -> its identity, once seen
      var liveKeys = Set[String]()
      var nextKey = 0
      val plan = sample(Gen.listOfN(14, Gen.frequency(
        5 -> Gen.const("append"), 4 -> Gen.const("merge"),
        2 -> Gen.const("delete"), 1 -> Gen.const("compact"))), seed)
      plan.zipWithIndex.foreach { case (op, i) =>
        op match {
          case "append" =>
            val ks = (0 until (i % 3) + 1).map(j => s"k${nextKey + j}")
            nextKey += ks.size
            SnapshotTable.append(
              ks.map(k => (k, i * 1.0)).toDF("k", "v").coalesce(1), path)
            liveKeys ++= ks
          case "merge" if liveKeys.nonEmpty =>
            // update one existing key, insert one new
            val upd = liveKeys.toSeq.min
            val ins = s"k${nextKey}"; nextKey += 1
            SnapshotTable.merge(
              Seq((upd, i * 10.0), (ins, i * 10.0 + 1)).toDF("k", "v")
                .coalesce(1), path, Seq("k"))
            liveKeys += ins
          case "delete" if liveKeys.nonEmpty =>
            val victim = liveKeys.toSeq.max
            SnapshotTable.delete(spark, path, col("k") === victim)
            liveKeys -= victim
          case "compact" if liveKeys.nonEmpty =>
            SnapshotTable.compact(spark, path, numFiles = 1)
          case _ => ()
        }
        if (liveKeys.nonEmpty) {
          val now = SnapshotTable.read(spark, path).select("k", "id")
            .as[(String, Long)].collect()
          assert(now.map(_._1).toSet === liveKeys,
            s"seed=$seed op $i ($op): key set diverged")
          assert(now.map(_._2).distinct.length === now.length,
            s"seed=$seed op $i ($op): identity values not unique")
          now.foreach { case (k, id) =>
            pinned.get(k) match {
              case Some(prev) => assert(id === prev,
                s"seed=$seed op $i ($op): key $k identity moved $prev -> $id")
              case None => pinned += k -> id
            }
          }
        }
      }
    }
  }

  test("the change feed carries STABLE identity values through a merge's update images") {
    val path = mk(java.nio.file.Files.createTempDirectory("graft-idcdf").toString)
    SnapshotTable.append(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
      .coalesce(1), path)                                             // v2 (v1=create)
    val idA = SnapshotTable.read(spark, path).filter(col("k") === "a")
      .select("id").as[Long].head()
    SnapshotTable.merge(Seq(("a", 9.0)).toDF("k", "v").coalesce(1),
      path, Seq("k"))                                                 // v3
    val feed = SnapshotTable.changes(spark, path, 2L, 3L)
      .select("k", "id", "_change_type").as[(String, Long, String)]
      .collect().toSeq.sorted
    // the update pre/post images carry the SAME identity value —
    // downstream consumers can key incremental state on it
    assert(feed === Seq(("a", idA, "update_postimage"),
      ("a", idA, "update_preimage")),
      s"identity must be stable across the merge's images: $feed")
  }

  test("CREATE TABLE ... GENERATED ALWAYS AS IDENTITY via SQL; INSERT assigns") {
    val warehouse = Files.createTempDirectory("graft-id-wh").toString
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-id-sql")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.catalog.graftid", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.graftid.warehouse", warehouse)
      .getOrCreate()
    try {
      s2.sql("CREATE TABLE graftid.ns.t (id BIGINT GENERATED ALWAYS AS " +
        "IDENTITY (START WITH 10 INCREMENT BY 2), v DOUBLE)")
      s2.sql("INSERT INTO graftid.ns.t (v) VALUES (1.0), (2.0)")
      s2.sql("INSERT INTO graftid.ns.t (v) VALUES (3.0)")
      val got = s2.sql("SELECT id, v FROM graftid.ns.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) === Seq(10L, 12L, 14L))
      // DESCRIBE DETAIL surfaces the identity spec + live watermark
      val d = SnapshotTable.describeDetail(s2, s"$warehouse/ns/t").head()
      assert(d.getMap[String, String](d.fieldIndex("properties"))
        .get("identityColumns").contains("id(next=16,step=2,allowExplicit=false)"))
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("a CREATE with identity columns racing into an append's " +
      "pre-write/CAS window fails the append loudly") {
    // The hole this pins: an append whose pre-write read saw NO table
    // (no identity assignment) while a CREATE TABLE with identity
    // columns lands before its CAS — without the signature guard the
    // append's files would publish over the creator's schema with the
    // identity column silently NULL-filled (colmap guard passes: both
    // mappings empty). The slow UDF holds the append's write job open
    // so the CREATE deterministically lands inside the window.
    val dir = Files.createTempDirectory("graft-id-race").toString
    val path = s"$dir/t"
    IdentityRaceHolder.reset()
    val slow = udf { (v: Double) =>
      IdentityRaceHolder.started.countDown()
      IdentityRaceHolder.go.await(30, java.util.concurrent.TimeUnit.SECONDS)
      v
    }
    @volatile var thrown: Throwable = null
    val appender = new Thread(() => {
      try SnapshotTable.append(
        Seq(1.0, 2.0).toDF("v").repartition(1)
          .withColumn("v", slow(col("v"))), path)
      catch { case t: Throwable => thrown = t }
    })
    appender.start()
    // once the write job is executing, the pre-write read is done
    assert(IdentityRaceHolder.started.await(30,
      java.util.concurrent.TimeUnit.SECONDS), "append write never started")
    SnapshotTable.create(spark, path, StructType(Seq(
      idField("id"), StructField("v", DoubleType))))
    IdentityRaceHolder.go.countDown()
    appender.join(60000)
    assert(thrown != null,
      "append must fail: its files would null-fill the identity column")
    assert(thrown.getMessage.contains("identity"))
    // the creator's table is intact and assigns normally afterwards
    SnapshotTable.append(Seq(7.0).toDF("v"), path)
    assert(SnapshotTable.read(spark, path).select("id")
      .as[Long].collect().toSeq === Seq(1L))
  }

  test("a legacy INT identity column refuses with the widen migration in the message; " +
      "widenColumnType migrates it (identity metadata + watermark survive)") {
    // No current code path can CREATE an INT identity column (create
    // and assignment both refuse), so fabricate the legacy state a
    // pre-tightening engine could have written: stamp identity
    // metadata onto an INT column via a metadata commit.
    val dir = Files.createTempDirectory("graft-ident-widen").toString
    val path = s"$dir/t"
    SnapshotTable.create(spark, path, StructType(Seq(
      StructField("id", IntegerType), StructField("v", DoubleType))))
    SnapshotTable.append(Seq((7, 1.0)).toDF("id", "v"), path)
    SnapshotTable.publishMetadataCommit(spark, path, "stampLegacyIdentity") { m =>
      m.copy(schema = m.schema.map(s => StructType(s.fields.map(f =>
        if (f.name == "id") idField("id", dt = IntegerType, start = 8L) else f))))
    }
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(Seq(2.0).toDF("v"), path)
    }
    assert(e.getMessage.contains("widenColumnType"),
      s"refusal must name the migration: ${e.getMessage}")
    SnapshotTable.widenColumnType(spark, path, "id", LongType)
    SnapshotTable.append(Seq(2.0, 3.0).toDF("v"), path)
    val rows = SnapshotTable.read(spark, path)
      .select(col("id").cast("long"), col("v")).as[(Long, Double)]
      .collect().sortBy(_._2)
    assert(rows.toSeq === Seq((7L, 1.0), (8L, 2.0), (9L, 3.0)),
      s"identity start metadata must survive the widen: ${rows.toSeq}")
  }
}

/** Latch holder for the CREATE-race spec: static so the executor
  * threads of local mode share it with the driver. */
object IdentityRaceHolder {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var go = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    go = new java.util.concurrent.CountDownLatch(1)
  }
}
