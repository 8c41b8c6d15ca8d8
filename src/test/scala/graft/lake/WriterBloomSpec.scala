package graft.lake

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.{GeneratedColumn, IdentityColumn}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkTestBase
import graft.functions.BloomBitsAggregator

/** Blooms built by the writer, differential against the reference
  * aggregator: for every live file of a bloomed table and every bloom
  * column the file holds, the recorded filter must be byte-identical
  * to [[BloomBitsAggregator]] run over `xxhash64` of the file's
  * non-NULL values, sized by the file's rows (~1% FPR, 64 KiB cap),
  * and every value in the file must hit it. Covered: string and the
  * four integral types; plain, partitioned, column-mapped, identity
  * and generated, `appendBatch`, stream-epoch and `compact` writes; a
  * file past the cap point; NULL keys; empty partitions; an aborted
  * and retried write. */
class WriterBloomSpec extends SparkTestBase {

  import spark.implicits._

  private def latest(path: String): SnapshotTable.Manifest =
    SnapshotTable.readManifestFull(spark, path, SnapshotTable.latestVersion(spark, path).get)

  /** The sizing the reference applies: m = -n·ln(0.01)/ln(2)², capped. */
  private def refBits(rows: Long): Long = math.min(1L << 19,
    math.ceil(-rows * math.log(0.01) / (math.log(2) * math.log(2))).toLong)

  private def item(c: String, dt: DataType) =
    if (dt == StringType) xxhash64(col(c)) else xxhash64(col(c).cast("long"))

  /** Checks every live file's blooms against the reference; returns
    * the number of (file, column) blooms checked. */
  private def checkBlooms(path: String): Int = checkBloomsOf(path, latest(path).entries)

  private def checkBloomsOf(path: String, entries: Seq[SnapshotTable.Entry]): Int = {
    val m = latest(path)
    val cols = m.bloomCols.map(m.phys)
    var checked = 0
    entries.foreach { e =>
      if (e.rows <= 0) assert(e.blooms.isEmpty, s"zero-row file ${e.filePath} has a bloom")
      else {
        val file = spark.read.parquet(e.filePath)
        for (c <- cols; f <- file.schema.fields.find(_.name == c)) {
          val payload = e.blooms.find(_._1 == c)
          assert(payload.nonEmpty, s"${e.filePath} has no bloom on $c")
          val got = java.util.Base64.getDecoder.decode(payload.get._2)
          val values = file.filter(col(c).isNotNull).select(item(c, f.dataType).as("h"))
          val agg = udaf(new BloomBitsAggregator(e.rows, refBits(e.rows)))
          val ref = values.agg(agg(col("h"))).head().getAs[Array[Byte]](0)
          assert(got.sameElements(ref), s"bloom of $c in ${e.filePath} (${e.rows} rows)")
          val bf = BloomFilter.readFrom(got)
          assert(values.as[Long].collect().forall(bf.mightContainLong), s"a value of $c missed")
          checked += 1
        }
      }
    }
    checked
  }

  private def table(name: String): String =
    Files.createTempDirectory(s"graft-wbloom-$name").toString + "/t"

  /** Rows of every bloom-eligible type, every 7th key NULL. */
  private def typed(from: Int, n: Int): DataFrame =
    spark.range(from, from + n).select(
      when(col("id") % 7 =!= 0, concat(lit("s-"), col("id").cast("string"))).as("s"),
      col("id").cast("int").as("i"),
      when(col("id") % 7 =!= 0, col("id") * 1000003L).as("l"),
      (col("id") % 30000).cast("short").as("h"),
      (col("id") % 100).cast("byte").as("b"),
      (col("id") % 3).as("p"))

  private val typedCols = Seq("s", "i", "l", "h", "b")

  private def bloomed(path: String, df: DataFrame, cols: Seq[String]): Unit = {
    SnapshotTable.create(spark, path, df.schema)
    SnapshotTable.setBloomColumns(spark, path, cols)
  }

  test("plain write: string, int, long, short and byte blooms equal the reference") {
    val path = table("plain")
    bloomed(path, typed(0, 1), typedCols)
    SnapshotTable.append(typed(0, 3000).repartition(3), path)
    assert(checkBlooms(path) === 3 * 5)
  }

  test("a file past the cap point matches the reference bit for bit") {
    val path = table("cap")
    bloomed(path, typed(0, 1), Seq("s", "l"))
    val n = WriterBlooms.CapRows.toInt + 7000
    SnapshotTable.append(typed(0, n).coalesce(1), path)
    val e = latest(path).entries.filter(_.rows > 0)
    assert(e.map(_.rows) === Seq(n.toLong))
    assert(checkBlooms(path) === 2)
    // the cap holds: 2^19 bits, whatever the row count
    val bf = BloomFilter.readFrom(java.util.Base64.getDecoder.decode(e.head.blooms.head._2))
    assert(bf.bitSize() === (1L << 19))
  }

  test("NULL keys stay out of the bloom (xxhash64(NULL) is the seed 42)") {
    val path = table("nulls")
    val df = Seq(Some(1L), None, Some(3L), None, Some(5L)).toDF("k")
    bloomed(path, df, Seq("k"))
    SnapshotTable.append(df.coalesce(1), path)
    assert(checkBlooms(path) === 1)
    // the recorded filter differs from one that also holds the seed,
    // which is what hashing NULL would have added
    val e = latest(path).entries.head
    val got = java.util.Base64.getDecoder.decode(e.blooms.head._2)
    val withSeed = BloomFilter.create(5, refBits(5))
    Seq(1L, 3L, 5L).foreach(v => withSeed.putLong(WriterBlooms.item(v)))
    withSeed.putLong(42L)
    val o = new java.io.ByteArrayOutputStream()
    withSeed.writeTo(o)
    assert(!got.sameElements(o.toByteArray))
    // `<=> NULL` and IS NULL never consult the bloom: the NULL rows read
    assert(SnapshotTable.readWhere(spark, path, col("k") <=> lit(null)).count() === 2)
    assert(SnapshotTable.readWhere(spark, path, col("k").isNull).count() === 2)
    assert(SnapshotTable.readWhere(spark, path, col("k") === 3L).count() === 1)
  }

  test("partitioned write: blooms per partition file; a partition column is not bloomed") {
    val path = table("part")
    bloomed(path, typed(0, 1), Seq("s", "l", "p"))
    SnapshotTable.append(typed(0, 900).repartition(2), path, partitionCols = Seq("p"))
    val files = latest(path).entries.filter(_.rows > 0)
    assert(files.size >= 3)
    assert(files.forall(_.blooms.map(_._1).toSet === Set("s", "l")))
    assert(checkBlooms(path) === 2 * files.size)
  }

  test("renamed (column-mapped) bloom column: blooms keyed by the physical name") {
    val path = table("rename")
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    bloomed(path, df, Seq("k"))
    SnapshotTable.append(df.coalesce(1), path)
    SnapshotTable.renameColumn(spark, path, "k", "key")
    val m = latest(path)
    assert(m.phys("key") === "k")
    SnapshotTable.append((3L to 400L).map(i => (i, s"v$i")).toDF("key", "s").coalesce(2), path)
    assert(latest(path).entries.filter(_.rows > 0).forall(_.blooms.map(_._1) === Seq("k")))
    assert(checkBlooms(path) >= 2)
    assert(SnapshotTable.readWhere(spark, path, col("key") === 77L).count() === 1)
  }

  test("identity and generated columns: blooms over the values the funnel derived") {
    val path = table("identgen")
    val meta = new MetadataBuilder()
      .putLong(IdentityColumn.IDENTITY_INFO_START, 1L)
      .putLong(IdentityColumn.IDENTITY_INFO_STEP, 1L)
      .putBoolean(IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, false).build()
    SnapshotTable.create(spark, path, StructType(Seq(
      StructField("sid", LongType, nullable = true, meta),
      StructField("k", LongType),
      StructField("g", LongType, nullable = true, new MetadataBuilder()
        .putString(GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY, "k * 2").build()))))
    SnapshotTable.setBloomColumns(spark, path, Seq("sid", "g"))
    SnapshotTable.append((1L to 300L).toDF("k").repartition(2), path)
    SnapshotTable.append((301L to 310L).toDF("k").coalesce(1), path)
    assert(checkBlooms(path) >= 2 * 2)
    assert(SnapshotTable.readWhere(spark, path, col("g") === 20L).select("k").as[Long]
      .collect().toSeq === Seq(10L))
  }

  test("appendBatch: the shared job's files carry the reference blooms") {
    val path = table("batch")
    bloomed(path, typed(0, 1), typedCols)
    SnapshotTable.appendBatch(Seq(typed(0, 40), typed(40, 1), typed(41, 500).repartition(2)), path)
    val files = latest(path).entries.count(_.rows > 0)
    assert(files >= 4)
    assert(checkBlooms(path) === files * 5)
  }

  test("stream epoch: the sink's writers carry the reference blooms") {
    val base = Files.createTempDirectory("graft-wbloom-stream").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    bloomed(dst, typed(0, 1), typedCols)
    SnapshotTable.append(typed(0, 300).repartition(2), src)
    SnapshotTable.append(typed(300, 50).coalesce(1), src)
    spark.readStream.format("graft-snapshot").load(src).writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .start(dst).awaitTermination()
    assert(SnapshotTable.read(spark, dst).count() === 350)
    assert(checkBlooms(dst) >= 2 * 5)
  }

  test("compact: rewritten files record fresh blooms") {
    val path = table("compact")
    bloomed(path, typed(0, 1), typedCols)
    (0 until 4).foreach(g => SnapshotTable.append(typed(g * 100, 100).coalesce(1), path))
    SnapshotTable.compact(spark, path, numFiles = 2)
    assert(latest(path).entries.count(_.rows > 0) === 2)
    assert(checkBlooms(path) === 2 * 5)
  }

  test("empty partitions and an empty frame write no bloom-less data file") {
    val path = table("empty")
    bloomed(path, typed(0, 1), Seq("s"))
    SnapshotTable.append(typed(0, 2).repartition(4), path)
    SnapshotTable.append(typed(0, 0), path)
    val es = latest(path).entries
    assert(es.filter(_.rows > 0).map(_.rows).sum === 2)
    assert(checkBlooms(path) === es.count(_.rows > 0))
  }

  test("a table whose blooms came from the commit-time re-read reads, prunes and merges as before") {
    val path = table("legacy")
    val df = (1L to 600L).map(i => (i, if (i % 50 == 0) None else Some(s"s$i"))).toDF("k", "s")
    bloomed(path, df, Seq("s"))
    Seq((1L, 100L), (101L, 300L), (301L, 600L)).foreach { case (a, b) =>
      SnapshotTable.append(df.filter(col("k").between(a, b)).coalesce(1), path)
    }
    // the old build: xxhash64 of every row (a NULL hashes to the seed)
    // into a filter sized by the commit's largest file
    val v = SnapshotTable.latestVersion(spark, path).get
    val m = SnapshotTable.readManifestFull(spark, path, v)
    val maxRows = m.entries.map(_.rows).max
    val old = m.entries.map { e =>
      val agg = udaf(new BloomBitsAggregator(maxRows, refBits(maxRows)))
      val bytes = spark.read.parquet(e.filePath).agg(agg(xxhash64(col("s"))))
        .head().getAs[Array[Byte]](0)
      e.copy(blooms = Seq("s" -> java.util.Base64.getEncoder.encodeToString(bytes)))
    }
    assert(old.map(_.blooms) !== m.entries.map(_.blooms))
    assert(SnapshotTable.publishManifest(spark, path, v + 1, m.copy(entries = old)))
    SnapshotTable.clearManifestCache()
    Seq("s7", "s151", "s599").foreach { k =>
      assert(SnapshotTable.readWhere(spark, path, col("s") === k).count() === 1, k)
    }
    assert(SnapshotTable.readWhere(spark, path, col("s") === "s9999").count() === 0)
    assert(SnapshotTable.readWhere(spark, path, col("s").isNull).count() === 12)
    // a point merge still rewrites only the file its key's bloom holds
    val before = SnapshotTable.liveFiles(spark, path).toSet
    SnapshotTable.merge(Seq((151L, Option("s151"))).toDF("k", "s").coalesce(1), path, Seq("s"))
    val after = SnapshotTable.liveFiles(spark, path).toSet
    assert((before -- after).size === 1)
    assert(SnapshotTable.read(spark, path).count() === 600)
    // the rewritten file carries a writer-built bloom; the others keep theirs
    val kept = latest(path).entries.filter(e => before(e.filePath))
    assert(kept.map(_.blooms).toSet === old.filter(e => after(e.filePath)).map(_.blooms).toSet)
    val rewritten = latest(path).entries.filterNot(e => before(e.filePath))
    assert(checkBloomsOf(path, rewritten) === rewritten.count(_.rows > 0))
  }

  test("a write aborted mid-task publishes nothing; its retry records the reference blooms") {
    val path = table("abort")
    val df = (1L to 500L).toDF("k")
    bloomed(path, df, Seq("k"))
    WriterBloomSpec.failed.set(false)
    val once = udf { (k: Long) =>
      if (k == 400L && WriterBloomSpec.failed.compareAndSet(false, true))
        throw new IllegalStateException("injected task failure")
      k
    }
    val src = df.coalesce(1).select(once(col("k")).as("k"))
    intercept[Exception](SnapshotTable.append(src, path))
    assert(SnapshotTable.read(spark, path).count() === 0)
    SnapshotTable.append(src, path)
    assert(SnapshotTable.read(spark, path).count() === 500)
    assert(checkBlooms(path) === 1)
  }

  test("a stream epoch aborted mid-task is retried from the checkpoint with the reference blooms") {
    val base = Files.createTempDirectory("graft-wbloom-sabort").toString
    val (src, dst, ckpt) = (s"$base/src", s"$base/dst", s"$base/ckpt")
    val df = (1L to 300L).toDF("k")
    bloomed(dst, df, Seq("k"))
    SnapshotTable.append(df.coalesce(1), src)
    WriterBloomSpec.failed.set(false)
    val once = udf { (k: Long) =>
      if (k == 200L && WriterBloomSpec.failed.compareAndSet(false, true))
        throw new IllegalStateException("injected task failure")
      k
    }
    def pump(): Unit = spark.readStream.format("graft-snapshot").load(src)
      .select(once(col("k")).as("k")).writeStream.format("graft-snapshot")
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .start(dst).awaitTermination()
    intercept[Exception](pump())
    assert(SnapshotTable.read(spark, dst).count() === 0)
    pump()
    assert(SnapshotTable.read(spark, dst).count() === 300)
    assert(checkBlooms(dst) === 1)
  }
}

object WriterBloomSpec {
  /** The injected failure fires once per test. */
  val failed = new AtomicBoolean(false)
}
