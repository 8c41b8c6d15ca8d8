package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GeneratedColumn
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** GENERATED ALWAYS AS columns (Delta's generated-column shape on the
  * EXISTS_DEFAULT/metadata substrate): declared at CREATE TABLE only,
  * the expression rides the recorded schema as GENERATION_EXPRESSION
  * field metadata; every batch write derives an omitted (or
  * null-filled) generated column and validates a provided non-null
  * value against the expression row-by-row; merge/update recompute;
  * DDL that would orphan the expression is refused; the streaming
  * sink derives generated columns through the batch write funnel
  * (batch parity). */
class GeneratedColumnsSpec extends SparkTestBase {

  import spark.implicits._

  private val GenKey = GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY

  private def genField(name: String, dt: DataType, e: String): StructField =
    StructField(name, dt, nullable = true,
      new MetadataBuilder().putString(GenKey, e).build())

  private def mkTable(dir: String): String = {
    val path = s"$dir/t"
    SnapshotTable.create(spark, path, StructType(Seq(
      StructField("id", LongType),
      StructField("v", DoubleType),
      genField("y", DoubleType, "v * 2"))))
    path
  }

  test("omitted generated column derives; null-filled derives; provided values validate") {
    val path = mkTable(Files.createTempDirectory("graft-gen1").toString)
    // omitted → derived
    SnapshotTable.append(Seq((1L, 2.0)).toDF("id", "v"), path)
    // provided CORRECT → accepted
    SnapshotTable.append(Seq((2L, 3.0, 6.0)).toDF("id", "v", "y"), path)
    // provided NULL → derived (the analyzer's INSERT(cols) null-fill)
    SnapshotTable.append(Seq((3L, 4.0, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "v", "y"), path)
    val got = SnapshotTable.read(spark, path).orderBy("id")
      .select("y").as[Double].collect().toSeq
    assert(got === Seq(4.0, 6.0, 8.0))
    // provided WRONG → loud row-level failure, nothing committed
    val before = SnapshotTable.latestVersion(spark, path).get
    val e = intercept[Exception] {
      SnapshotTable.append(Seq((4L, 5.0, 99.0)).toDF("id", "v", "y"), path)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("generated column 'y'")))
    assert(SnapshotTable.latestVersion(spark, path).get === before)
  }

  test("merge recomputes generated columns from post-merge sources; a source carrying one is refused") {
    val path = mkTable(Files.createTempDirectory("graft-gen2").toString)
    SnapshotTable.append(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"), path)
    SnapshotTable.merge(Seq((1L, 10.0)).toDF("id", "v"), path, Seq("id"))
    val got = SnapshotTable.read(spark, path).orderBy("id")
      .select("v", "y").as[(Double, Double)].collect().toSeq
    assert(got === Seq((10.0, 20.0), (3.0, 6.0)),
      "updated row must recompute y = v * 2 from the NEW v")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.merge(Seq((1L, 5.0, 10.0)).toDF("id", "v", "y"),
        path, Seq("id"))
    }
    assert(e.getMessage.contains("GENERATED"))
  }

  test("update recomputes; SET on a generated column is refused") {
    val path = mkTable(Files.createTempDirectory("graft-gen3").toString)
    SnapshotTable.append(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"), path)
    SnapshotTable.update(spark, path, Seq("v" -> lit(7.0)), col("id") === 1L)
    val got = SnapshotTable.read(spark, path).orderBy("id")
      .select("y").as[Double].collect().toSeq
    assert(got === Seq(14.0, 6.0))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.update(spark, path, Seq("y" -> lit(0.0)), col("id") === 2L)
    }
    assert(e.getMessage.contains("GENERATED"))
  }

  test("creation validates the expression; later DDL cannot orphan it") {
    val dir = Files.createTempDirectory("graft-gen4").toString
    def bad(fields: Seq[StructField]): String = intercept[Exception] {
      SnapshotTable.create(spark, s"$dir/${fields.hashCode.abs}",
        StructType(fields))
    }.getMessage
    val id = StructField("id", LongType)
    assert(bad(Seq(id, genField("y", LongType, "y + 1"))).contains("itself"))
    assert(bad(Seq(id, genField("y", LongType, "nope + 1"))).contains("unknown"))
    assert(bad(Seq(id, genField("a", LongType, "id + 1"),
      genField("b", LongType, "a + 1"))).contains("generated"))
    assert(bad(Seq(id, genField("y", DoubleType, "rand()")))
      .contains("deterministic"))

    val path = mkTable(dir)
    SnapshotTable.append(Seq((1L, 2.0)).toDF("id", "v"), path)
    // source column of a generated column: rename/drop refused
    assert(intercept[IllegalArgumentException](
      SnapshotTable.renameColumn(spark, path, "v", "w"))
      .getMessage.contains("GENERATED"))
    assert(intercept[IllegalArgumentException](
      SnapshotTable.dropColumn(spark, path, "v"))
      .getMessage.contains("GENERATED"))
    // a generated column can be added only at creation
    assert(intercept[Exception](
      SnapshotTable.addColumns(spark, path,
        Seq(genField("z", DoubleType, "v + 1"))))
      .getMessage.contains("creation"))
    // dropping the GENERATED column itself is fine (frees the source)
    SnapshotTable.dropColumn(spark, path, "y")
    SnapshotTable.renameColumn(spark, path, "v", "w")
    assert(SnapshotTable.read(spark, path).columns.toSeq === Seq("id", "w"))
  }

  test("a table can PARTITION BY a generated column (derivation runs before layout)") {
    val dir = Files.createTempDirectory("graft-gen-part").toString
    val path = s"$dir/t"
    SnapshotTable.create(spark, path, StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType),
      genField("event_day", StringType, "date_format(ts, 'yyyy-MM-dd')"))))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    SnapshotTable.append(
      Seq((1L, ts("2024-03-01 10:00:00")), (2L, ts("2024-03-02 11:00:00")))
        .toDF("id", "ts"), path, Seq("event_day"))
    // the derived column landed as the hive layout and reads back
    assert(SnapshotTable.liveFiles(spark, path)
      .exists(_.contains("event_day=2024-03-01")))
    val got = SnapshotTable.read(spark, path).orderBy("id")
      .select("event_day").as[String].collect().toSeq
    assert(got === Seq("2024-03-01", "2024-03-02"))
    // widening a SOURCE of a generated column is refused (silent
    // narrow-cast overflow channel), completing the rename/drop guards
    val n = s"$dir/n"
    SnapshotTable.create(spark, n, StructType(Seq(
      StructField("k", IntegerType),
      genField("k2", IntegerType, "k * 2"))))
    SnapshotTable.append(Seq(1).toDF("k"), n)
    assert(intercept[Exception](
      SnapshotTable.widenColumnType(spark, n, "k", LongType))
      .getMessage.contains("GENERATED"))
  }

  test("the streaming sink derives GENERATED columns per epoch (batch parity); " +
      "a provided WRONG value fails the epoch") {
    val dir = Files.createTempDirectory("graft-gen5").toString
    val path = mkTable(dir)
    SnapshotTable.append(Seq((1L, 2.0)).toDF("id", "v"), path)
    val src = s"$dir/src"
    SnapshotTable.append(Seq((9L, 9.0)).toDF("id", "v"), src)
    def pump(ckpt: String): Unit = {
      val q = spark.readStream.format("graft-snapshot").load(src)
        .writeStream.format("graft-snapshot")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pump(s"$dir/ckpt")
    val got = SnapshotTable.read(spark, path)
      .select("id", "v", "y").as[(Long, Double, Double)].collect().sorted
    assert(got === Array((1L, 2.0, 4.0), (9L, 9.0, 18.0)),
      "the epoch's commit must derive y = v * 2 exactly like a batch write")
    // a stream PROVIDING the generated column validates row-by-row:
    // a wrong value fails the epoch before anything publishes
    val src2 = s"$dir/src2"
    SnapshotTable.append(Seq((7L, 1.0, 99.0)).toDF("id", "v", "y"), src2)
    val vBefore = SnapshotTable.latestVersion(spark, path).get
    val q2 = spark.readStream.format("graft-snapshot").load(src2)
      .writeStream.format("graft-snapshot")
      .option("path", path)
      .option("checkpointLocation", s"$dir/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[Exception](q2.awaitTermination())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("generated column")))
    assert(SnapshotTable.latestVersion(spark, path).get === vBefore,
      "a failed epoch must publish nothing")
  }

  test("quarantine split evaluates CHECKs over a GENERATED column the write " +
      "omits (probe derives; batch and stream paths)") {
    val dir = Files.createTempDirectory("graft-gen-q").toString
    val path = mkTable(dir)                                   // y = v * 2
    SnapshotTable.append(Seq((1L, 2.0)).toDF("id", "v"), path)
    SnapshotTable.addCheckConstraint(spark, path, "y_small", "y <= 10")
    // batch: y(3.0)=6 passes, y(9.0)=18 violates — the split must
    // derive y to know, since the writer never provides it
    val (_, nBad) = SnapshotTable.appendQuarantine(
      Seq((2L, 3.0), (3L, 9.0)).toDF("id", "v"), path, s"$dir/q")
    assert(nBad === 1L)
    val got = SnapshotTable.read(spark, path)
      .select("id", "y").as[(Long, Double)].collect().sorted
    assert(got === Array((1L, 4.0), (2L, 6.0)),
      "clean side lands with y derived by the write funnel")
    assert(SnapshotTable.read(spark, s"$dir/q")
      .select("id").as[Long].collect().toSeq === Seq(3L))
    // stream: same split through failMode=quarantine
    val src = s"$dir/src"
    SnapshotTable.append(Seq((4L, 4.0), (5L, 8.0)).toDF("id", "v"), src)
    val q = spark.readStream.format("graft-snapshot").load(src)
      .writeStream.format("graft-snapshot")
      .option("path", path)
      .option("failMode", "quarantine")
      .option("quarantinePath", s"$dir/q")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(SnapshotTable.read(spark, path)
      .select("id").as[Long].collect().toSet === Set(1L, 2L, 4L),
      "y(8.0)=16 must divert to quarantine, y(4.0)=8 must land derived")
    assert(SnapshotTable.read(spark, path).filter(col("id") === 4L)
      .select("y").as[Double].head() === 8.0)
    assert(SnapshotTable.read(spark, s"$dir/q")
      .select("id").as[Long].collect().toSet === Set(3L, 5L))
  }

  test("CREATE TABLE ... GENERATED ALWAYS AS via SQL on the catalog; INSERT derives") {
    val warehouse = Files.createTempDirectory("graft-gen-wh").toString
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-gen-sql")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.catalog.graftg", classOf[GraftCatalog].getName)
      .config("spark.sql.catalog.graftg.warehouse", warehouse)
      .getOrCreate()
    try {
      s2.sql("CREATE TABLE graftg.ns.gen (id BIGINT, v DOUBLE, " +
        "y DOUBLE GENERATED ALWAYS AS (v * 2))")
      s2.sql("INSERT INTO graftg.ns.gen (id, v) VALUES (1, 2.0)")
      s2.sql("INSERT INTO graftg.ns.gen VALUES (2, 3.0, 6.0)")
      val got = s2.sql("SELECT id, y FROM graftg.ns.gen ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === Seq((1L, 4.0), (2L, 6.0)))
      // DESCRIBE DETAIL surfaces the generation expression
      val d = SnapshotTable.describeDetail(s2, s"$warehouse/ns/gen").head()
      assert(d.getMap[String, String](d.fieldIndex("properties"))
        .get("generatedColumns").exists(_.contains("y=(")))
      val e = intercept[Exception](
        s2.sql("INSERT INTO graftg.ns.gen VALUES (3, 4.0, 99.0)"))
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("generated column 'y'")))
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
