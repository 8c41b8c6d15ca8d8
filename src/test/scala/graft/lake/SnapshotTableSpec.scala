package graft.lake

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Same-JVM gates for the write-skew race test: local-mode tasks run
  * in this JVM, and a task closure's reference to a top-level object
  * re-resolves to the same singleton after deserialization, so the
  * latches coordinate the driver thread and the in-task UDF. */
object DvRaceGates {
  val scanning = new java.util.concurrent.CountDownLatch(1)
  val proceed = new java.util.concurrent.CountDownLatch(1)
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  def enter(): Unit =
    if (fired.compareAndSet(false, true)) {
      scanning.countDown()
      proceed.await(60, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
}

class SnapshotTableSpec extends SparkTestBase {

  import spark.implicits._

  private def mkRows(tag: String, dates: Seq[String]) =
    dates.zipWithIndex.flatMap { case (d, i) =>
      (0 until 5).map(j => (s"$tag-$i-$j", d, 10.0 * j))
    }.toDF("id", "event_date", "v")

  test("append commits are versioned and time-travelable") {
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    val v1 = SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    val v2 = SnapshotTable.append(mkRows("b", Seq("2024-01-02")), path, Seq("event_date"))
    assert(Seq(v1, v2) === Seq(1L, 2L))
    assert(SnapshotTable.read(spark, path).count() === 10)
    assert(SnapshotTable.read(spark, path, Some(1L)).count() === 5)
    assert(SnapshotTable.versions(spark, path) === Seq(1L, 2L))
  }

  test("overwritePartitions replaces only touched partitions, old versions intact") {
    val path = Files.createTempDirectory("graft-snap2").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path, Seq("event_date"))
    // rewrite only 2024-01-01 with 3 rows
    val replacement = Seq(("x-0", "2024-01-01", 1.0), ("x-1", "2024-01-01", 2.0),
      ("x-2", "2024-01-01", 3.0)).toDF("id", "event_date", "v")
    SnapshotTable.overwritePartitions(replacement, path, Seq("event_date"))

    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 8) // 3 new + 5 untouched
    assert(latest.filter(col("event_date") === "2024-01-01").count() === 3)
    assert(latest.filter(col("event_date") === "2024-01-02").count() === 5)
    // time travel still sees the original partition content
    val v1 = SnapshotTable.read(spark, path, Some(1L))
    assert(v1.count() === 10)
    assert(v1.filter(col("event_date") === "2024-01-01").count() === 5)
  }

  test("vacuum reclaims expired versions but keeps live data intact") {
    val path = Files.createTempDirectory("graft-snap4").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path, Seq("event_date"))
    SnapshotTable.overwritePartitions(
      mkRows("b", Seq("2024-01-01")), path, Seq("event_date"))
    val beforeRows = SnapshotTable.read(spark, path).count()

    SnapshotTable.vacuum(spark, path, keepVersions = 1)
    assert(SnapshotTable.versions(spark, path) === Seq(2L))
    assert(SnapshotTable.read(spark, path).count() === beforeRows)
    // expired version is no longer readable
    assertThrows[Exception](SnapshotTable.read(spark, path, Some(1L)).count())
    // the replaced partition's original files are physically gone,
    // but files still referenced by the kept manifest survive
    assert(SnapshotTable.read(spark, path)
      .filter(col("event_date") === "2024-01-02").count() === 5)
  }

  test("overwritePartitions matches escaped and NULL partition values") {
    val path = Files.createTempDirectory("graft-snap5").toString + "/t"
    // values Spark escapes in directory names (space, colon) plus NULL
    // (__HIVE_DEFAULT_PARTITION__): an unescaped substring match would
    // keep the old files live and double the rows after overwrite
    val rows = Seq(("a", "has space", 1.0), ("b", "c:colon", 2.0), ("c", null, 3.0))
      .toDF("id", "k", "v")
    SnapshotTable.append(rows, path, Seq("k"))
    val replacement = Seq(("a2", "has space", 10.0), ("b2", "c:colon", 20.0), ("c2", null, 30.0))
      .toDF("id", "k", "v")
    SnapshotTable.overwritePartitions(replacement, path, Seq("k"))
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 3, "escaped/null partitions must be replaced, not duplicated")
    assert(latest.filter(col("id").isin("a2", "b2", "c2")).count() === 3)
    // time travel still shows the originals
    assert(SnapshotTable.read(spark, path, Some(1L))
      .filter(col("id").isin("a", "b", "c")).count() === 3)
  }

  test("concurrent appends all commit via optimistic retry, none lost") {
    val path = Files.createTempDirectory("graft-snap-mw").toString + "/t"
    val writers = 6
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to writers).map { i =>
      Future(SnapshotTable.append(mkRows(s"w$i", Seq("2024-01-01")), path, Seq("event_date")))
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds)
    // every writer got a distinct version and no rows were lost
    assert(versions.toSet.size === writers)
    assert(SnapshotTable.versions(spark, path).size === writers)
    assert(SnapshotTable.read(spark, path).count() === writers * 5L)
    // each intermediate version is a consistent snapshot (5·k rows)
    SnapshotTable.versions(spark, path).zipWithIndex.foreach { case (v, i) =>
      assert(SnapshotTable.read(spark, path, Some(v)).count() === (i + 1) * 5L)
    }
  }

  test("schema evolution: later commits may add columns, old rows read NULL") {
    val path = Files.createTempDirectory("graft-snap-evo").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    val widened = mkRows("b", Seq("2024-01-02")).withColumn("note", lit("late"))
    SnapshotTable.append(widened, path, Seq("event_date"))
    val latest = SnapshotTable.read(spark, path)
    assert(latest.columns.toSet === Set("id", "event_date", "v", "note"))
    assert(latest.count() === 10)
    assert(latest.filter(col("note").isNull).count() === 5) // pre-evolution rows
    // the old snapshot still reads with its own schema
    assert(SnapshotTable.read(spark, path, Some(1L)).columns.toSet
      === Set("id", "event_date", "v"))
  }

  test("manifest records the schema; schemaOf is O(1) and evolves additively") {
    val path = Files.createTempDirectory("graft-snap-sch").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    val s1 = SnapshotTable.schemaOf(spark, path)
    assert(s1.isDefined)
    assert(s1.get.fieldNames.toSet === Set("id", "event_date", "v"))
    SnapshotTable.append(
      mkRows("b", Seq("2024-01-02")).withColumn("note", lit("late")), path, Seq("event_date"))
    // v2's recorded schema gains the column; v1's stays as written
    assert(SnapshotTable.schemaOf(spark, path).get.fieldNames.toSet
      === Set("id", "event_date", "v", "note"))
    assert(SnapshotTable.schemaOf(spark, path, Some(1L)).get.fieldNames.toSet
      === Set("id", "event_date", "v"))
    // a commit that DROPS a column keeps it in the recorded schema
    // (old files still carry it) and rows from the narrow commit read NULL
    SnapshotTable.append(
      mkRows("c", Seq("2024-01-03")).drop("v"), path, Seq("event_date"))
    assert(SnapshotTable.schemaOf(spark, path).get.fieldNames.toSet
      === Set("id", "event_date", "v", "note"))
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 15)
    assert(latest.filter(col("v").isNull).count() === 5)
  }

  test("incompatible type change on a shared column is rejected as drift") {
    val path = Files.createTempDirectory("graft-snap-drift").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    val drifted = mkRows("b", Seq("2024-01-02"))
      .withColumn("v", col("v").cast("string"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(drifted, path, Seq("event_date"))
    }
    assert(e.getMessage.contains("schema drift"))
    assert(e.getMessage.contains("'v'"))
    // the failed commit published nothing
    assert(SnapshotTable.versions(spark, path) === Seq(1L))
  }

  test("pre-schema manifests (no header) still read via mergeSchema fallback") {
    val path = Files.createTempDirectory("graft-snap-presch").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    // strip the header in place, emulating a manifest written before
    // schema recording
    val manifest = java.nio.file.Paths.get(s"$path/_graft_log/v1")
    val stripped = Files.readAllLines(manifest).asScala
      .filterNot(_.startsWith("#")).mkString("\n")
    Files.write(manifest, stripped.getBytes("UTF-8"))
    assert(SnapshotTable.schemaOf(spark, path).isEmpty)
    assert(SnapshotTable.read(spark, path).count() === 5)
  }

  test("clustered commits skip files outside the queried range") {
    val path = Files.createTempDirectory("graft-snap-skip").toString + "/t"
    val li = graft.model.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity")
    SnapshotTable.appendClustered(li, path, "l_orderkey", numFiles = 8)

    val (lo, hi) = (100.0, 500.0)
    val (pruned, scanned) = SnapshotTable.readRange(spark, path, "l_orderkey", lo, hi)
    assert(scanned < 8, s"expected file skipping, scanned $scanned of 8")
    assert(scanned >= 1)
    // identical rows to the unpruned filter
    val want = SnapshotTable.read(spark, path)
      .filter(col("l_orderkey") >= lo && col("l_orderkey") <= hi).count()
    assert(pruned.count() === want)
    assert(want > 0)
    // a range beyond the data touches zero files
    val (empty, n0) = SnapshotTable.readRange(spark, path, "l_orderkey", 1e12, 2e12)
    assert(n0 === 0)
    assert(empty.count() === 0)
  }

  test("readWhere skips files by manifest stats (the SQL-path data-skipping half)") {
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      df.collect()
      def files(p: org.apache.spark.sql.execution.SparkPlan): Long =
        p.collect {
          case a: AdaptiveSparkPlanExec => files(a.executedPlan)
          case q: QueryStageExec        => files(q.plan)
          case s: FileSourceScanExec    => s.metrics("numFiles").value
        }.sum
      files(df.queryExecution.executedPlan)
    }
    val path = Files.createTempDirectory("graft-where-skip").toString + "/t"
    val li = graft.model.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    SnapshotTable.appendClustered(li, path, "l_orderkey", numFiles = 8)

    // a plain predicate — the one the SQL rule forwards — prunes
    val q = SnapshotTable.readWhere(spark, path,
      col("l_orderkey") >= 100L && col("l_orderkey") <= 500L)
    val n = scanned(q)
    assert(n < 8 && n >= 1, s"expected stats skipping, scanned $n of 8")
    val want = SnapshotTable.read(spark, path)
      .filter(col("l_orderkey").between(100L, 500L))
    assert(q.exceptAll(want).count() === 0 && want.exceptAll(q).count() === 0)

    // equality and IN prune too
    assert(scanned(SnapshotTable.readWhere(spark, path,
      col("l_orderkey") === 1L)) < 8)
    assert(scanned(SnapshotTable.readWhere(spark, path,
      col("l_orderkey").isin(1L, 2L, 3L))) < 8)
    // a disjunctive or stats-less predicate must NOT skip
    assert(scanned(SnapshotTable.readWhere(spark, path,
      col("l_orderkey") === 1L || col("l_returnflag") === "X")) === 8)
    assert(scanned(SnapshotTable.readWhere(spark, path,
      col("l_quantity") > 0)) === 8)
    // a range beyond the data reads zero files but keeps the schema
    val none = SnapshotTable.readWhere(spark, path, col("l_orderkey") > lit(5000000L))
    assert(none.count() === 0)
    assert(none.columns.toSeq === Seq("l_orderkey", "l_quantity", "l_returnflag"))
  }

  // the skip compiler ([[FileSkipping]]) over hand-built entries: an
  // entry with bound [lo, hi] on a column is kept iff some value in it
  // can satisfy the predicate
  private lazy val skipFrame = {
    import spark.implicits._
    Seq((1L, 2.0, "a")).toDF("x", "v", "s")
  }
  private def skipCond(c: org.apache.spark.sql.Column) =
    skipFrame.filter(c).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.get
  private def keeps(c: org.apache.spark.sql.Column,
      stats: Seq[(String, Double, Double)] = Nil,
      sstats: Seq[(String, String, String)] = Nil): Boolean =
    FileSkipping.compile(skipCond(c), identity)(
      SnapshotTable.Entry("d", "f", stats = stats, sstats = sstats))

  test("skipIntervals: conservative numeric envelopes from top-level conjuncts only") {
    def kx(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      keeps(c, stats = Seq(("x", lo, hi)))
    // x >= 5 AND x < 10: the envelope is [5, 10)
    val r = col("x") >= 5L && col("x") < 10L
    assert(kx(r, 5, 5) && kx(r, 9.5, 9.5) && kx(r, 0, 5) && kx(r, 9, 20))
    assert(!kx(r, 0, 4.9) && !kx(r, 10, 20))
    // x = 7: [7, 7]
    assert(kx(col("x") === 7L, 7, 7) && kx(col("x") === 7L, 6, 8))
    assert(!kx(col("x") === 7L, 0, 6.9) && !kx(col("x") === 7L, 7.1, 9))
    // a literal on the left flips: 3 <= x is [3, +inf)
    assert(kx(lit(3L) <= col("x"), 3, 3) && kx(lit(3L) <= col("x"), 1e300, 1e300))
    assert(!kx(lit(3L) <= col("x"), 0, 2.9))
    // IN: within the envelope [2, 9] of its literals, never outside
    val in = col("x").isin(4L, 9L, 2L)
    assert(kx(in, 2, 2) && kx(in, 9, 9) && kx(in, 4, 4) && kx(in, 0, 2) && kx(in, 9, 12))
    assert(!kx(in, 0, 1.9) && !kx(in, 9.1, 20))
    // OR is not a leaf: the normalizer gives it nothing, and the
    // conjunct beside it still prunes on its own
    val or = col("x") === 1L || col("x") === 99L
    assert(FileSkipping.normalize(skipCond(or)).isEmpty)
    val withOr = or && col("v") <= 0.5
    assert(keeps(withOr, stats = Seq(("x", 1, 1), ("v", 0, 0.5))))
    assert(!keeps(withOr, stats = Seq(("x", 1, 1), ("v", 0.6, 1))))
    // non-numeric comparisons read no numeric bound
    assert(keeps(col("s") === "q", stats = Seq(("s", 0, 0))))
    // a huge long literal is widened by an ulp, never narrowed
    val Seq(big) = FileSkipping.normalize(skipCond(col("x") === Long.MaxValue))
    val Some((lo, hi)) = FileSkipping.numeric(big.lits.head)
    assert(lo < Long.MaxValue.toDouble && hi > 0 && lo <= hi)
    assert(kx(col("x") === Long.MaxValue, lo, lo))

    // a lossless WIDENING cast on the column transfers the interval…
    assert(FileSkipping.normalize(skipCond(col("x").cast("double") === lit(7.0)))
      .map(l => (l.attr.name, l.op)) === Seq(("x", FileSkipping.Eq)))
    assert(kx(col("x").cast("double") === lit(7.0), 7, 7))
    assert(!kx(col("x").cast("double") === lit(7.0), 8, 9))
    // …but a narrowing/truncating cast is not order-preserving-
    // invertible: CAST(v AS INT) = 5 is satisfied by v = 5.7, so
    // transferring [5, 5] to v's stats could skip a file holding only
    // (5.2, 5.9). Such casts must contribute NO interval.
    assert(FileSkipping.normalize(skipCond(col("v").cast("int") === lit(5))).isEmpty)
    assert(keeps(col("v").cast("int") === lit(5), stats = Seq(("v", 5.2, 5.9))))
    assert(FileSkipping.normalize(skipCond(col("x").cast("int") === lit(5))).isEmpty) // long→int wraps
  }

  test("skipStringBounds: conservative string envelopes; casts and non-strings contribute nothing") {
    def ks(c: org.apache.spark.sql.Column, lo: String, hi: String) =
      keeps(c, sstats = Seq(("s", lo, hi)))
    // s = 'q': [q, q]
    assert(ks(col("s") === "q", "q", "q") && ks(col("s") === "q", "a", "z"))
    assert(!ks(col("s") === "q", "r", "z") && !ks(col("s") === "q", "a", "p"))
    // s >= 'b' AND s < 'm': [b, m)
    val r = col("s") >= "b" && col("s") < "m"
    assert(ks(r, "b", "b") && ks(r, "l", "l") && ks(r, "a", "b") && ks(r, "lz", "z"))
    assert(!ks(r, "a", "az") && !ks(r, "m", "z"))
    // a literal on the left flips: 'k' <= s is [k, ∞)
    assert(ks(lit("k") <= col("s"), "k", "k") && ks(lit("k") <= col("s"), "z", "z"))
    assert(!ks(lit("k") <= col("s"), "a", "j"))
    // IN: within the envelope [b, x] of its literals, never outside
    val in = col("s").isin("m", "b", "x")
    assert(ks(in, "b", "b") && ks(in, "x", "x") && ks(in, "a", "c") && ks(in, "w", "z"))
    assert(!ks(in, "a", "az") && !ks(in, "y", "z"))
    // numeric comparisons and casts contribute nothing on the string side
    assert(keeps(col("x") === 5L, sstats = Seq(("x", "a", "a"))))
    assert(FileSkipping.normalize(skipCond(col("x").cast("string") === "5")).isEmpty)
    assert(keeps(col("x").cast("string") === "5", sstats = Seq(("x", "6", "6"))))
    // OR contributes nothing as a leaf
    assert(FileSkipping.normalize(skipCond(col("s") === "a" || col("s") === "z")).isEmpty)
  }

  test("string stats skip files on SQL-path reads; absent stats stay readable") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-sskip").toString + "/t"
    val df = (0 until 800).map(i => (f"station-${i % 40}%03d", i.toLong))
      .toDF("station", "n")
    SnapshotTable.appendClustered(df, path, "station", numFiles = 8)
    def scanned(d: org.apache.spark.sql.DataFrame): Int = {
      d.collect()
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def files(p: SparkPlan): Long = p.collect {
        case a: AdaptiveSparkPlanExec => files(a.executedPlan)
        case q: QueryStageExec        => files(q.plan)
        case s: FileSourceScanExec    => s.metrics("numFiles").value
      }.sum
      files(d.queryExecution.executedPlan).toInt
    }
    val total = SnapshotTable.liveFiles(spark, path).size
    assert(total === 8)
    // equality on the clustered string key scans a strict subset…
    val q = SnapshotTable.readWhere(spark, path, col("station") === "station-007")
    assert(q.count() === 20L)
    val nEq = scanned(q)
    assert(nEq < total && nEq >= 1)
    // …a range too…
    val r = SnapshotTable.readWhere(spark, path,
      col("station") >= "station-030" && col("station") <= "station-033")
    assert(r.count() === 80L)
    assert(scanned(r) < total)
    // …IN prunes by its min/max envelope…
    assert(scanned(SnapshotTable.readWhere(spark, path,
      col("station").isin("station-001", "station-002"))) < total)
    // …an impossible value reads ZERO files but keeps the schema…
    val none = SnapshotTable.readWhere(spark, path, col("station") === "zzz")
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("station", "n"))
    // …and a predicate on an unstated column scans everything
    assert(scanned(SnapshotTable.readWhere(spark, path, col("n") >= 0L)) === total)
    // soundness: pruned read ≡ full filter
    val want = SnapshotTable.read(spark, path)
      .filter(col("station") >= "station-030" && col("station") <= "station-033")
    assert(r.exceptAll(want).count() === 0 && want.exceptAll(r).count() === 0)
  }

  test("merge on a STRING key prunes files via string stats") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-smerge").toString + "/t"
    val df = (0 until 800).map(i => (f"k-$i%04d", i.toLong)).toDF("sk", "n")
    SnapshotTable.appendClustered(df, path, "sk", numFiles = 8)
    val before = SnapshotTable.liveFiles(spark, path).toSet
    assert(before.size === 8)
    SnapshotTable.merge(
      Seq(("k-0100", -1L), ("k-0101", -2L), ("k-9999", 7L)).toDF("sk", "n"),
      path, Seq("sk"))
    val after = SnapshotTable.liveFiles(spark, path).toSet
    // the two updated keys sit in ONE range-clustered file; k-9999 is
    // beyond every file's max and must rewrite nothing
    val rewritten = (before -- after).size
    assert(rewritten === 1, s"string-stat pruning failed: rewrote $rewritten of 8 files")
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 801L)
    assert(got.filter(col("sk") === "k-0100").select("n").as[Long].head() === -1L)
    assert(got.filter(col("sk") === "k-9999").select("n").as[Long].head() === 7L)
    // the rewritten + inserted files re-record string stats, so a
    // SECOND string-keyed merge still prunes
    val before2 = SnapshotTable.liveFiles(spark, path).toSet
    SnapshotTable.merge(Seq(("k-0500", -5L)).toDF("sk", "n"), path, Seq("sk"))
    assert((before2 -- SnapshotTable.liveFiles(spark, path).toSet).size === 1)
  }

  test("z-ordered commits prune files on BOTH clustered dimensions") {
    val path = Files.createTempDirectory("graft-snap-z").toString + "/t"
    val li = graft.model.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_quantity")
    SnapshotTable.appendZOrdered(li, path, Seq("l_orderkey", "l_partkey"), numFiles = 16)

    // a tight 2D box: linear clustering on one key could never prune
    // on the other; the z-curve narrows per-file ranges of both
    val box = Seq(("l_orderkey", 100.0, 1500.0), ("l_partkey", 10.0, 50.0))
    val (pruned, scanned) = SnapshotTable.readBox(spark, path, box)
    assert(scanned < 16, s"expected 2D pruning, scanned $scanned of 16")
    val want = SnapshotTable.read(spark, path)
      .filter(col("l_orderkey").between(100, 1500) && col("l_partkey").between(10, 50))
      .count()
    assert(pruned.count() === want)
    // single-dimension reads prune too (stats exist for both columns)
    val (_, n1) = SnapshotTable.readRange(spark, path, "l_partkey", 0.0, 40.0)
    assert(n1 < 16)
  }

  test("hive-partitioned z-order: partition pruning and in-partition file skipping compose") {
    val path = Files.createTempDirectory("graft-snap-pz").toString + "/t"
    val li = graft.model.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    SnapshotTable.appendZOrdered(li, path, Seq("l_orderkey", "l_partkey"),
      numFiles = 32, partitionCols = Seq("l_linenumber"))

    // the layout IS hive-partitioned (overwritePartitions keeps working)
    val files = SnapshotTable.liveFiles(spark, path)
    assert(files.forall(_.contains("l_linenumber=")))
    val inPart = files.count(_.contains("l_linenumber=1/"))
    assert(inPart >= 2, s"want several files inside partition 1, got $inPart")

    // a partition-pinned 2D box: the partition stat prunes to ONE
    // partition's files, the z-stats prune WITHIN it — a strict subset
    val box = Seq(("l_linenumber", 1.0, 1.0),
      ("l_orderkey", 100.0, 1200.0), ("l_partkey", 10.0, 60.0))
    val (pruned, scanned) = SnapshotTable.readBox(spark, path, box)
    assert(scanned < inPart,
      s"expected in-partition skipping: scanned $scanned of $inPart partition files")
    val want = SnapshotTable.read(spark, path)
      .filter(col("l_linenumber") === 1 &&
        col("l_orderkey").between(100, 1200) && col("l_partkey").between(10, 60))
    assert(pruned.count() === want.count())
    assert(want.count() > 0)

    // the z-order maintenance pass (compact zorderCols) produces the
    // same composed layout on an existing partitioned table
    val path2 = Files.createTempDirectory("graft-snap-pz2").toString + "/t"
    SnapshotTable.append(li, path2, Seq("l_linenumber"))
    SnapshotTable.compact(spark, path2, numFiles = 32,
      zorderCols = Seq("l_orderkey", "l_partkey"))
    val files2 = SnapshotTable.liveFiles(spark, path2)
    assert(files2.forall(_.contains("l_linenumber=")))
    val inPart2 = files2.count(_.contains("l_linenumber=1/"))
    val (pruned2, scanned2) = SnapshotTable.readBox(spark, path2, box)
    assert(scanned2 < inPart2,
      s"expected in-partition skipping after compact: $scanned2 of $inPart2")
    assert(pruned2.count() === want.count())
  }

  test("metadata-only count matches the scanned count across every write path") {
    val path = Files.createTempDirectory("graft-snap-count").toString + "/t"
    def check(): Unit =
      assert(SnapshotTable.count(spark, path) === SnapshotTable.read(spark, path).count())
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path, Seq("event_date"))
    check()
    SnapshotTable.overwritePartitions(mkRows("b", Seq("2024-01-01")), path, Seq("event_date"))
    check()
    SnapshotTable.merge(
      Seq(("b-0-0", "2024-01-01", 99.0), ("new-1", "2024-01-02", 1.0))
        .toDF("id", "event_date", "v"), path, Seq("id"))
    check()
    SnapshotTable.compact(spark, path, numFiles = 1)
    check()
    // historical versions count from their own manifests
    assert(SnapshotTable.count(spark, path, Some(1L)) === 10L)
    assert(SnapshotTable.count(spark, path, Some(2L)) === 10L)
  }

  test("vacuum minAgeMs retention never expires recently-published versions") {
    val path = Files.createTempDirectory("graft-snap-vac-age").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    SnapshotTable.append(mkRows("b", Seq("2024-01-02")), path, Seq("event_date"))
    // both manifests are seconds old: an hour-long retention window
    // must refuse to expire v1 even though keepVersions says so
    SnapshotTable.vacuum(spark, path, keepVersions = 1, minAgeMs = 3600L * 1000)
    assert(SnapshotTable.versions(spark, path) === Seq(1L, 2L))
    assert(SnapshotTable.read(spark, path, Some(1L)).count() === 5)
    // without the window the expiry proceeds
    SnapshotTable.vacuum(spark, path, keepVersions = 1)
    assert(SnapshotTable.versions(spark, path) === Seq(2L))
  }

  test("merge upserts: matched keys replaced, unmatched inserted, time travel intact") {
    val path = Files.createTempDirectory("graft-snap-merge").toString + "/t"
    val base = (1 to 10).map(i => (i.toLong, "2024-01-01", i * 1.0))
      .toDF("k", "event_date", "v")
    SnapshotTable.merge(base, path, Seq("k"), Seq("event_date"))    // empty table → plain insert
    val src = Seq((3L, "2024-01-01", 300.0), (7L, "2024-01-01", 700.0),
      (42L, "2024-01-02", 4200.0)).toDF("k", "event_date", "v")
    SnapshotTable.merge(src, path, Seq("k"), Seq("event_date"))
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 11) // 10 base − 2 updated + 2 updated + 1 inserted
    assert(latest.filter(col("k") === 3).select("v").as[Double].head() === 300.0)
    assert(latest.filter(col("k") === 7).select("v").as[Double].head() === 700.0)
    assert(latest.filter(col("k") === 42).select("v").as[Double].head() === 4200.0)
    assert(latest.filter(col("k") === 5).select("v").as[Double].head() === 5.0)
    // pre-merge snapshot unchanged
    val v1 = SnapshotTable.read(spark, path, Some(1L))
    assert(v1.count() === 10)
    assert(v1.filter(col("k") === 3).select("v").as[Double].head() === 3.0)
  }

  test("merge rewrites only the files whose stats can contain a source key") {
    val path = Files.createTempDirectory("graft-snap-merge-prune").toString + "/t"
    val base = (1 to 800).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
    SnapshotTable.appendClustered(base, path, "k", numFiles = 8)
    val before = SnapshotTable.readManifest(spark, path, 1L).map(_.filePath).toSet
    assert(before.size === 8)
    // keys 5 and 17 both land in the first ~[1,100] file
    val src = Seq((5L, -5.0), (17L, -17.0)).toDF("k", "v")
    SnapshotTable.merge(src, path, Seq("k"))
    val after = SnapshotTable.readManifest(spark, path, 2L).map(_.filePath).toSet
    val survivors = before.intersect(after)
    assert(survivors.size === 7, s"expected 7 untouched files, got ${survivors.size}")
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 800)
    assert(latest.filter(col("k") === 5).select("v").as[Double].head() === -5.0)
    assert(latest.filter(col("k") === 1).select("v").as[Double].head() === 1.0)
    // the files this merge wrote carry key stats, so the NEXT merge
    // still prunes instead of degrading to a full rewrite
    SnapshotTable.merge(Seq((700L, -700.0)).toDF("k", "v"), path, Seq("k"))
    val third = SnapshotTable.readManifest(spark, path, 3L).map(_.filePath).toSet
    assert(after.intersect(third).size === after.size - 1,
      "second merge should rewrite exactly the one file containing k=700")
    assert(SnapshotTable.read(spark, path).count() === 800)
  }

  test("merge with a string key (no footer stats) still upserts correctly") {
    val path = Files.createTempDirectory("graft-snap-merge-str").toString + "/t"
    val base = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("id", "v")
    SnapshotTable.append(base, path)
    SnapshotTable.merge(Seq(("b", 20.0), ("d", 4.0)).toDF("id", "v"), path, Seq("id"))
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 4)
    assert(latest.filter(col("id") === "b").select("v").as[Double].head() === 20.0)
    assert(latest.filter(col("id") === "a").select("v").as[Double].head() === 1.0)
  }

  test("a registered lock provider serializes non-atomic publishes; no commit lost") {
    val path = Files.createTempDirectory("graft-snap-lock").toString + "/t"
    // simulate an object store: the publish CAS is exists+rename (not
    // atomic); the lock provider must restore mutual exclusion
    sys.props("graft.snapshot.testForceNonAtomic") = "true"
    SnapshotTable.setLockProvider(Some(new FileCommitLockProvider()))
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to 6).map { i =>
        new Thread(() =>
          try SnapshotTable.append(Seq((i.toLong, i * 1.0)).toDF("k", "v"), path)
          catch { case t: Throwable => errs.add(t); () })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errs.isEmpty, s"concurrent commits failed: ${errs.peek()}")
      assert(SnapshotTable.versions(spark, path) === (1L to 6L))
      assert(SnapshotTable.read(spark, path).count() === 6)
    } finally {
      sys.props.remove("graft.snapshot.testForceNonAtomic")
      SnapshotTable.setLockProvider(None)
    }
  }

  test("non-atomic publish without a lock provider fails fast, naming the safe opt-in") {
    val path = Files.createTempDirectory("graft-snap-nolock").toString + "/t"
    sys.props("graft.snapshot.testForceNonAtomic") = "true"
    try {
      val e = intercept[IllegalArgumentException](
        SnapshotTable.append(Seq((1L, 1.0)).toDF("k", "v"), path))
      assert(e.getMessage.contains("CommitLockProvider"))
      assert(e.getMessage.contains("allowNonAtomicPublish"))
    } finally sys.props.remove("graft.snapshot.testForceNonAtomic")
  }

  test("merge is one job: the duplicate-key guard rides the rewrite pass, no pre-scan") {
    val path = Files.createTempDirectory("graft-snap-merge-1job").toString + "/t"
    SnapshotTable.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), path)
    @volatile var execs = 0
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        execs += 1
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        execs += 1
    }
    spark.listenerManager.register(listener)
    try {
      SnapshotTable.merge(Seq((2L, 20.0), (3L, 3.0)).toDF("k", "v"), path, Seq("k"))
      // listener delivery is async — wait for the write's event, then a
      // grace period in which any EXTRA (pre-scan) event would land
      val deadline = System.currentTimeMillis + 10000
      while (execs < 1 && System.currentTimeMillis < deadline) Thread.sleep(50)
      Thread.sleep(500)
      assert(execs === 1,
        s"merge on a stats-less table must be exactly the rewrite job, saw $execs executions")
    } finally spark.listenerManager.unregister(listener)
    // and the merge itself was correct
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 3)
    assert(latest.filter(col("k") === 2L).select("v").as[Double].head() === 20.0)
  }

  test("merge rejects a source with duplicate keys") {
    val path = Files.createTempDirectory("graft-snap-merge-dup").toString + "/t"
    SnapshotTable.append(Seq((1L, 1.0)).toDF("k", "v"), path)
    val dup = Seq((1L, 10.0), (1L, 11.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException](
      SnapshotTable.merge(dup, path, Seq("k")))
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("merge schema evolution: source may add columns, survivors read NULL") {
    val path = Files.createTempDirectory("graft-snap-merge-evo").toString + "/t"
    SnapshotTable.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), path)
    val widened = Seq((2L, 20.0, "fixed"), (3L, 3.0, "new"))
      .toDF("k", "v", "note")
    SnapshotTable.merge(widened, path, Seq("k"))
    val latest = SnapshotTable.read(spark, path)
    assert(latest.columns.toSet === Set("k", "v", "note"))
    assert(latest.count() === 3)
    assert(latest.filter(col("k") === 1).select("note").head().isNullAt(0))
    assert(latest.filter(col("k") === 2).select("note").as[String].head() === "fixed")
  }

  test("compact rewrites the live state as a new version; history and pruning survive") {
    val path = Files.createTempDirectory("graft-snap-compact").toString + "/t"
    // many small commits → many small files
    (0 until 6).foreach { i =>
      SnapshotTable.appendClustered(
        (1 to 100).map(j => ((i * 100 + j).toLong, j * 1.0)).toDF("k", "v"),
        path, "k", numFiles = 4)
    }
    val before = SnapshotTable.readManifest(spark, path, 6L)
    assert(before.size === 24)
    val rows = SnapshotTable.read(spark, path).count()

    val v = SnapshotTable.compact(spark, path, numFiles = 4, clusterCol = Some("k"))
    assert(v === 7L)
    val after = SnapshotTable.readManifest(spark, path, 7L)
    assert(after.size <= 4, s"expected <= 4 files after compaction, got ${after.size}")
    assert(SnapshotTable.read(spark, path).count() === rows)
    // clustering keeps the file-skipping index effective
    val (pruned, scanned) = SnapshotTable.readRange(spark, path, "k", 1.0, 100.0)
    assert(scanned < after.size || after.size == 1)
    assert(pruned.count() === 100)
    // pre-compaction versions still read the original files
    assert(SnapshotTable.read(spark, path, Some(6L)).count() === rows)
    assert(SnapshotTable.read(spark, path, Some(3L)).count() === 300)
    // vacuum reclaims the superseded small files, latest still whole
    SnapshotTable.vacuum(spark, path, keepVersions = 1)
    assert(SnapshotTable.read(spark, path).count() === rows)
    assertThrows[Exception](SnapshotTable.read(spark, path, Some(6L)).count())
  }

  test("compact and merge preserve a hive-partitioned layout (inferred partition cols)") {
    val path = Files.createTempDirectory("graft-snap-infer").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path, Seq("event_date"))
    // compact WITHOUT passing partitionCols — the layout must survive
    SnapshotTable.compact(spark, path, numFiles = 1)
    assert(SnapshotTable.read(spark, path).count() === 10)
    // merge without partitionCols keeps the layout too
    val fix = Seq(("a-0-0", "2024-01-01", 999.0)).toDF("id", "event_date", "v")
    SnapshotTable.merge(fix, path, Seq("id"))
    assert(SnapshotTable.read(spark, path).count() === 10)
    // overwritePartitions still matches the rewritten files: the
    // replaced date must not resurrect compacted copies
    val rep = Seq(("r-0", "2024-01-01", 1.0)).toDF("id", "event_date", "v")
    SnapshotTable.overwritePartitions(rep, path, Seq("event_date"))
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 6,
      "flattened layout would leave stale 2024-01-01 rows live after overwrite")
    assert(latest.filter(col("event_date") === "2024-01-01").count() === 1)
    assert(latest.filter(col("event_date") === "2024-01-02").count() === 5)
  }

  test("partition columns stay readable and idempotent re-run replaces cleanly") {
    val path = Files.createTempDirectory("graft-snap3").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    val rep = mkRows("r", Seq("2024-01-01"))
    SnapshotTable.overwritePartitions(rep, path, Seq("event_date"))
    SnapshotTable.overwritePartitions(rep, path, Seq("event_date"))
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 5) // re-run did not double
    assert(latest.schema.fieldNames.contains("event_date"))
    assert(SnapshotTable.versions(spark, path) === Seq(1L, 2L, 3L))
  }

  test("history reports one row per version with operation, files, and metadata-only rows") {
    val path = Files.createTempDirectory("graft-snap-hist").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    SnapshotTable.merge(Seq(("a-0-0", "2024-01-01", 1.0)).toDF("id", "event_date", "v"),
      path, Seq("id"))
    SnapshotTable.delete(spark, path, col("v") === 40.0)
    SnapshotTable.update(spark, path, Seq("v" -> lit(7.0)), col("v") === 10.0)
    SnapshotTable.compact(spark, path, numFiles = 1)
    val h = SnapshotTable.history(spark, path)
      .select("version", "operation", "n_rows").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(5L, 4L, 3L, 2L, 1L)) // newest first
    assert(h.map(_.getString(1)).toSeq
      === Seq("compact", "update", "delete", "merge", "append"))
    assert(h.map(_.getLong(2)).toSeq === Seq(4L, 4L, 4L, 5L, 5L))
    // timestamps are monotone non-decreasing in version order
    val ts = SnapshotTable.history(spark, path)
      .orderBy("version").select("published_at")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    assert(ts === ts.sorted)
  }

  test("update rewrites only matching files; SET sees pre-update values; NULL predicate keeps rows") {
    val path = Files.createTempDirectory("graft-snap-upd").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path, Seq("event_date"))
    val v = SnapshotTable.update(spark, path,
      Seq("v" -> (col("v") + 1000)), col("event_date") === "2024-01-02")
    assert(v === 2L)
    val latest = SnapshotTable.read(spark, path)
    assert(latest.filter(col("event_date") === "2024-01-02")
      .agg(min(col("v"))).as[Double].head() === 1000.0)
    assert(latest.filter(col("event_date") === "2024-01-01")
      .agg(max(col("v"))).as[Double].head() === 40.0)
    // exact-minimal rewrite: the untouched date's file carries over
    val before = SnapshotTable.liveFiles(spark, path, Some(1L)).toSet
    val after = SnapshotTable.liveFiles(spark, path, Some(2L)).toSet
    assert(before.intersect(after).nonEmpty, "untouched file should carry over by reference")
    // time travel serves the pre-update state
    assert(SnapshotTable.read(spark, path, Some(1L))
      .agg(max(col("v"))).as[Double].head() === 40.0)
    // no-match update commits nothing
    assert(SnapshotTable.update(spark, path,
      Seq("v" -> lit(0.0)), col("event_date") === "2031-01-01") === 2L)

    // simultaneous assignment + NULL-predicate row retention
    val p2 = Files.createTempDirectory("graft-snap-upd2").toString + "/t"
    SnapshotTable.append(
      Seq((1L, Some(1.0), 10.0), (2L, None, 20.0)).toDF("k", "x", "y"), p2)
    SnapshotTable.update(spark, p2,
      Seq("x" -> col("y"), "y" -> col("x")), col("x") > 0) // NULL for k=2
    val rows = SnapshotTable.read(spark, p2).orderBy("k")
      .select("x", "y").collect()
    assert(rows(0).getDouble(0) === 10.0 && rows(0).getDouble(1) === 1.0) // swapped
    assert(rows(1).isNullAt(0) && rows(1).getDouble(1) === 20.0)          // untouched
  }

  test("update on a partition column moves rows between partitions, layout intact") {
    val path = Files.createTempDirectory("graft-snap-updpart").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path, Seq("event_date"))
    SnapshotTable.update(spark, path,
      Seq("event_date" -> lit("2024-01-03")), col("id") === "a-0-0")
    val latest = SnapshotTable.read(spark, path)
    assert(latest.count() === 10)
    assert(latest.filter(col("event_date") === "2024-01-03")
      .select("id").as[String].collect().toSeq === Seq("a-0-0"))
    assert(latest.filter(col("event_date") === "2024-01-01").count() === 4)
    // the moved row landed in a real hive partition dir:
    // overwritePartitions on the new date must replace it
    SnapshotTable.overwritePartitions(
      Seq(("r-0", "2024-01-03", 0.0)).toDF("id", "event_date", "v"), path, Seq("event_date"))
    val after = SnapshotTable.read(spark, path)
    assert(after.filter(col("event_date") === "2024-01-03")
      .select("id").as[String].collect().toSeq === Seq("r-0"))
    assert(after.count() === 10)
  }

  test("changes feeds per-commit row-level diffs; compaction contributes none") {
    val path = Files.createTempDirectory("graft-snap-cdc").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date")) // v1
    SnapshotTable.append(mkRows("b", Seq("2024-01-02")), path, Seq("event_date")) // v2
    SnapshotTable.delete(spark, path, col("v") === 40.0)                          // v3
    SnapshotTable.merge(Seq(("a-0-0", "2024-01-01", 999.0)).toDF("id", "event_date", "v"),
      path, Seq("id"))                                                            // v4
    SnapshotTable.compact(spark, path, numFiles = 1)                              // v5

    // v2: the appended rows surface as inserts, nothing deleted
    val c12 = SnapshotTable.changes(spark, path, 1L, 2L)
    assert(c12.filter(col("_change_type") === "insert").count() === 5)
    assert(c12.filter(col("_change_type") === "delete").count() === 0)
    assert(c12.select("_commit_version").distinct().as[Long].collect().toSeq === Seq(2L))

    // v3: exactly the two v=40 rows deleted (one per date), no inserts
    val c23 = SnapshotTable.changes(spark, path, 2L, 3L)
    assert(c23.filter(col("_change_type") === "delete")
      .select("id").as[String].collect().sorted.toSeq === Seq("a-0-4", "b-0-4"))
    assert(c23.filter(col("_change_type") === "insert").count() === 0)

    // v4: merge records its keys → the updated row emits CDF
    // update pre/post images; carried-over rows cancel
    val c34 = SnapshotTable.changes(spark, path, 3L, 4L).orderBy("_change_type")
      .select("id", "v", "_change_type").as[(String, Double, String)].collect().toSeq
    assert(c34 === Seq(("a-0-0", 999.0, "update_postimage"),
      ("a-0-0", 0.0, "update_preimage")))

    // v5 (compaction): full rewrite, zero net changes
    assert(SnapshotTable.changes(spark, path, 4L, 5L).count() === 0)

    // bootstrap from version 0 covers the initial commit; empty range is empty
    assert(SnapshotTable.changes(spark, path, 0L, 1L)
      .filter(col("_change_type") === "insert").count() === 5)
    assert(SnapshotTable.changes(spark, path, 3L, 3L).count() === 0)

    // the whole range composes the same multiset as replaying each step
    val all = SnapshotTable.changes(spark, path, 0L, 5L)
    assert(all.count() === 5 + 5 + 2 + 2 + 0)
  }

  test("deletion vectors: delete without rewrite, time travel, merge of DVs, compact clears") {
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path, Seq("event_date"))
    val filesV1 = SnapshotTable.readManifest(spark, path, 1L).map(_.filePath).toSet

    // DV delete: same file set, rows gone, metadata count adjusted
    val v2 = SnapshotTable.deleteWithVectors(spark, path, col("v") === 0.0)
    assert(v2 === 2L)
    val m2 = SnapshotTable.readManifest(spark, path, 2L)
    assert(m2.map(_.filePath).toSet === filesV1, "no file rewritten")
    assert(m2.count(_.dv.isDefined) === 2, "one DV per touched file")
    assert(SnapshotTable.read(spark, path).count() === 8)
    assert(SnapshotTable.read(spark, path).filter(col("v") === 0.0).count() === 0)
    assert(SnapshotTable.count(spark, path) === 8, "metadata-only count sees DVs")
    assert(SnapshotTable.opOf(spark, path, 2L) === Some("delete_dv"))

    // time travel: v1 still sees everything
    assert(SnapshotTable.read(spark, path, Some(1L)).count() === 10)

    // a second DV delete merges with the first (replacement DV file)
    val v3 = SnapshotTable.deleteWithVectors(spark, path, col("v") === 10.0)
    assert(v3 === 3L)
    assert(SnapshotTable.read(spark, path).count() === 6)
    assert(SnapshotTable.read(spark, path, Some(2L)).count() === 8, "old DV intact")
    // deleting already-dead rows is a no-op (positions never double-count)
    assert(SnapshotTable.deleteWithVectors(spark, path, col("v") === 10.0) === 3L)

    // the change feed emits exactly the DV-deleted rows
    val c23 = SnapshotTable.changes(spark, path, 2L, 3L)
    assert(c23.count() === 2)
    assert(c23.select("_change_type").distinct().collect().map(_.getString(0)).toSeq
      === Seq("delete"))
    assert(c23.select("v").collect().forall(_.getDouble(0) === 10.0))

    // compact materializes survivors and clears every DV
    SnapshotTable.compact(spark, path, numFiles = 2)
    val mC = SnapshotTable.readManifest(spark, path, 4L)
    assert(mC.forall(_.dv.isEmpty), "compaction must clear DVs")
    assert(SnapshotTable.read(spark, path).count() === 6)
    // compact contributes zero changes even from a DV'd base
    assert(SnapshotTable.changes(spark, path, 3L, 4L).count() === 0)

    // vacuum drops DV files once only expired versions reference them
    SnapshotTable.vacuum(spark, path, keepVersions = 1)
    val dvDirP = new org.apache.hadoop.fs.Path(path + "/_graft_dv")
    val fsys = dvDirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fsys.exists(dvDirP) || fsys.listStatus(dvDirP).isEmpty,
      "orphaned DV files survived vacuum")
    assert(SnapshotTable.read(spark, path).count() === 6)
  }

  test("wide DV commit: change feed reads delta positions distributed, stays exact") {
    val path = Files.createTempDirectory("graft-dv-wide").toString + "/t"
    // 12 input partitions of 5 consecutive ids each → 12 data files,
    // every file holding exactly one v=0 row: the DV delete below
    // touches all 12, which is past the driver-read threshold (8) and
    // exercises the distributed DV-delta path in changes()
    val rows = (0 until 60).map(i =>
      org.apache.spark.sql.Row(f"id-$i%02d", "2024-01-01", (i % 5) * 10.0))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("event_date", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 12), schema)
    SnapshotTable.append(df, path, Seq("event_date"))                 // v1
    assert(SnapshotTable.liveFiles(spark, path).size >= 9,
      "fixture must span more files than the driver-read threshold")
    SnapshotTable.deleteWithVectors(spark, path, col("v") === 0.0)    // v2
    assert(SnapshotTable.readManifest(spark, path, 2L).count(_.dv.isDefined) >= 9,
      "DV delta must span enough files to take the distributed path")
    assert(SnapshotTable.read(spark, path).count() === 48)
    val feed = SnapshotTable.changes(spark, path, 1L, 2L)
    assert(feed.count() === 12)
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("delete"))
    assert(feed.select("id").collect().map(_.getString(0)).toSet ===
      (0 until 60 by 5).map(i => f"id-$i%02d").toSet)
  }

  test("deletion vectors: rewrite paths respect DVs; append-only consumers refuse DV commits") {
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    // one data file, so the dead row and the updated row share it
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")).coalesce(1), path,
      Seq("event_date"))
    assert(SnapshotTable.readManifest(spark, path, 1L).size === 1)
    SnapshotTable.deleteWithVectors(spark, path, col("id") === "a-0-1")
    assert(SnapshotTable.read(spark, path).count() === 4)

    // update rewrites the DV'd file: the dead row must not resurrect
    SnapshotTable.update(spark, path, Seq("v" -> lit(999.0)), col("id") === "a-0-2")
    val after = SnapshotTable.read(spark, path)
    assert(after.count() === 4)
    assert(after.filter(col("id") === "a-0-1").count() === 0, "dead row resurrected")
    assert(after.filter(col("v") === 999.0).count() === 1)
    // the rewritten entry carries no DV (survivors were materialized)
    assert(SnapshotTable.readManifest(spark, path,
      SnapshotTable.latestVersion(spark, path).get).forall(_.dv.isEmpty))

    // append-only incremental consumption refuses the DV version
    val path2 = Files.createTempDirectory("graft-snap").toString + "/t2"
    SnapshotTable.append(mkRows("b", Seq("2024-01-01")), path2, Seq("event_date"))
    SnapshotTable.deleteWithVectors(spark, path2, col("id") === "b-0-0")
    val ex = intercept[IllegalArgumentException] {
      SnapshotIncremental.readBetween(spark, path2, 0L, 2L).count()
    }
    assert(ex.getMessage.toLowerCase.contains("append"), ex.getMessage)
    // Cdc mode consumes it as tagged deletes
    val cdc = SnapshotIncremental.readBetween(spark, path2, 1L, 2L,
      SnapshotIncremental.Cdc)
    assert(cdc.count() === 1)
    assert(cdc.select("_change_type").head.getString(0) === "delete")
  }

  test("auto-tiered delete: DV under the threshold, rewrite above, no-op on no match") {
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path,
      Seq("event_date"))
    val filesV1 = SnapshotTable.readManifest(spark, path, 1L).map(_.filePath).toSet

    // 2 matching rows, threshold 5 → DV path
    SnapshotTable.deleteAuto(spark, path, col("v") === 0.0, dvThreshold = 5L)
    assert(SnapshotTable.opOf(spark, path, 2L) === Some("delete_dv"))
    assert(SnapshotTable.readManifest(spark, path, 2L).map(_.filePath).toSet === filesV1)

    // 2 matching rows, threshold 1 → rewrite path
    SnapshotTable.deleteAuto(spark, path, col("v") === 10.0, dvThreshold = 1L)
    assert(SnapshotTable.opOf(spark, path, 3L) === Some("delete"))
    assert(SnapshotTable.readManifest(spark, path, 3L).map(_.filePath).toSet !== filesV1)

    // no match commits nothing
    assert(SnapshotTable.deleteAuto(spark, path, col("v") === 12345.0) === 3L)
    assert(SnapshotTable.read(spark, path).count() === 6)
  }

  test("deletion vectors: multi-round parity with the rewriting delete") {
    // the two delete implementations must be observationally identical:
    // apply the same predicate sequence to twin tables via DV and via
    // rewrite, comparing full content after every round
    val pathA = Files.createTempDirectory("graft-snap").toString + "/dv"
    val pathB = Files.createTempDirectory("graft-snap").toString + "/rw"
    val rows = mkRows("p", Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    SnapshotTable.append(rows, pathA, Seq("event_date"))
    SnapshotTable.append(rows, pathB, Seq("event_date"))
    val preds = Seq(
      col("v") === 30.0,
      col("id").endsWith("-1"),
      col("event_date") === "2024-01-02" && col("v") > 15.0)
    preds.foreach { p =>
      SnapshotTable.deleteWithVectors(spark, pathA, p)
      SnapshotTable.delete(spark, pathB, p)
      val a = SnapshotTable.read(spark, pathA)
      val b = SnapshotTable.read(spark, pathB)
      assert(a.count() === b.count())
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"content diverged after predicate $p")
      assert(SnapshotTable.count(spark, pathA) === b.count(),
        "metadata count must track DV deletes")
    }
  }

  test("CHECK constraints: enforced on every write path, NULL passes, drop restores") {
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))

    // add validates existing data: v >= 0 holds, v > 100 does not
    val v2 = SnapshotTable.addCheckConstraint(spark, path, "v_nonneg", "v >= 0")
    assert(v2 === 2L)
    val exAdd = intercept[IllegalArgumentException] {
      SnapshotTable.addCheckConstraint(spark, path, "v_huge", "v > 100")
    }
    assert(exAdd.getMessage.contains("v_huge"))
    assert(SnapshotTable.checkConstraints(spark, path) === Map("v_nonneg" -> "v >= 0"))

    // metadata-only commit: same live rows, zero net changes in the feed
    assert(SnapshotTable.read(spark, path).count() === 5)
    assert(SnapshotTable.changes(spark, path, 1L, 2L).count() === 0)

    // append of a violating batch fails inside the write job
    val bad = Seq(("x-0", "2024-01-02", -1.0)).toDF("id", "event_date", "v")
    val exAppend = intercept[Exception] {
      SnapshotTable.append(bad, path, Seq("event_date"))
    }
    assert(exAppend.getMessage.contains("v_nonneg")
      || Option(exAppend.getCause).exists(_.getMessage.contains("v_nonneg")))
    // nothing published
    assert(SnapshotTable.latestVersion(spark, path) === Some(2L))

    // a NULL evaluation passes (SQL tri-valued semantics)
    val nullRow = Seq(("n-0", "2024-01-02", null.asInstanceOf[java.lang.Double]))
      .toDF("id", "event_date", "v")
    SnapshotTable.append(nullRow, path, Seq("event_date"))
    assert(SnapshotTable.read(spark, path).count() === 6)

    // merge with a violating source row fails too (same guard)
    val badSrc = Seq(("a-0-0", "2024-01-01", -5.0)).toDF("id", "event_date", "v")
    val exMerge = intercept[Exception] {
      SnapshotTable.merge(badSrc, path, Seq("id"), Seq("event_date"))
    }
    assert(exMerge.getMessage.contains("v_nonneg")
      || Option(exMerge.getCause).exists(_.getMessage.contains("v_nonneg")))

    // drop, then the formerly-violating append goes through
    SnapshotTable.dropCheckConstraint(spark, path, "v_nonneg")
    assert(SnapshotTable.checkConstraints(spark, path).isEmpty)
    SnapshotTable.append(bad, path, Seq("event_date"))
    assert(SnapshotTable.read(spark, path).count() === 7)
  }

  test("quarantine fail-mode append splits a mixed batch; violators carry diagnoses") {
    val base = Files.createTempDirectory("graft-snap-q").toString
    val (path, qpath) = (s"$base/t", s"$base/q")
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    SnapshotTable.addCheckConstraint(spark, path, "v_nonneg", "v >= 0")
    SnapshotTable.addCheckConstraint(spark, path, "v_cap", "v <= 100")
    SnapshotTable.addCheckConstraint(spark, path, "v_whole", "v = floor(v)")

    // mixed batch: 2 clean, 1 below floor, 1 violating TWO rules at
    // once, 1 NULL (tri-valued: passes) — one source pass splits it
    val batch = Seq(
      ("ok-1", "2024-01-02", Some(5.0)), ("ok-2", "2024-01-02", Some(7.0)),
      ("low", "2024-01-02", Some(-3.0)), ("frac", "2024-01-02", Some(250.5)),
      ("nul", "2024-01-02", None: Option[Double]))
      .toDF("id", "event_date", "v")

    val (v, nQ) = SnapshotTable.appendQuarantine(batch, path, qpath,
      Seq("event_date"))
    assert(nQ === 2L)
    // clean rows (incl. the NULL) committed; violators did not
    val ids = SnapshotTable.read(spark, path).select("id")
      .collect().map(_.getString(0)).toSet
    assert(Set("ok-1", "ok-2", "nul").subsetOf(ids))
    assert(!ids.contains("low") && !ids.contains("frac"))
    assert(SnapshotTable.read(spark, path, Some(v)).count() === 8)

    // quarantine table: every violator, tagged with ALL its violated
    // constraint names (name-sorted)
    val q = SnapshotTable.read(spark, qpath)
      .select(col("id"), array_join(col("_violated"), ",").as("why"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(q === Map("low" -> "v_nonneg", "frac" -> "v_cap,v_whole"))

    // no constraints on the target → plain append, nothing diverted
    val plain = s"$base/p"
    SnapshotTable.append(mkRows("p", Seq("2024-01-01")), plain, Seq("event_date"))
    val (v2, n2) = SnapshotTable.appendQuarantine(
      mkRows("q", Seq("2024-01-02")), plain, s"$base/pq", Seq("event_date"))
    assert(v2 === 2L && n2 === 0L)

    // the staging dir is cleaned up
    val staging = new java.io.File(s"$path/_staging")
    assert(!staging.exists() || staging.listFiles().isEmpty)

    // reserved diagnostic column name is rejected
    val clash = Seq(("x", "2024-01-02", 1.0, "boom"))
      .toDF("id", "event_date", "v", "_violated")
    intercept[IllegalArgumentException] {
      SnapshotTable.appendQuarantine(clash, path, qpath, Seq("event_date"))
    }
  }

  test("write-skew guard: a concurrent DV-only commit aborts a rewrite (no resurrection)") {
    // An UPDATE computes its rewrite from the pre-DV snapshot; if a
    // deleteWithVectors lands in between, publishing that rewrite
    // would resurrect the DV-deleted rows. The carry-over guard must
    // treat the DV change like a file change and abort — comparing
    // filePath sets alone would let it through (DV commits keep every
    // path).
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")).coalesce(1), path,
      Seq("event_date"))
    val gate = udf((s: String) => { DvRaceGates.enter(); s == "a-0-2" })
    val upd = Future {
      SnapshotTable.update(spark, path, Seq("v" -> lit(999.0)), gate(col("id")))
    }
    assert(DvRaceGates.scanning.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "update never started scanning")
    // DV-only commit: same file set, one row dead
    SnapshotTable.deleteWithVectors(spark, path, col("id") === "a-0-1")
    DvRaceGates.proceed.countDown()
    val ex = intercept[IllegalArgumentException] { Await.result(upd, 120.seconds) }
    assert(ex.getMessage.contains("concurrent commit advanced"), ex.getMessage)
    // the DV delete survives, nothing was republished
    val after = SnapshotTable.read(spark, path)
    assert(after.count() === 4)
    assert(after.filter(col("id") === "a-0-1").count() === 0, "DV-deleted row resurrected")
    assert(after.filter(col("v") === 999.0).count() === 0, "aborted update published data")
  }

  test("deletion vectors: keys stay unique at 3+ partition levels (same leaf names)") {
    // coalesce(1) + 3-level partitionBy: ONE task writes the same
    // part-file leaf name into every partition dir, and the last-3
    // -segments key (p2/p3/leaf) would collide across p1 values —
    // the key must anchor at the commit dir instead
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    val df = Seq(
      ("r1", "a", "x", "y", 1.0), ("r2", "a", "x", "y", 2.0),
      ("r3", "b", "x", "y", 3.0), ("r4", "b", "x", "y", 4.0))
      .toDF("id", "p1", "p2", "p3", "v")
    SnapshotTable.append(df.coalesce(1), path, Seq("p1", "p2", "p3"))
    val m1 = SnapshotTable.readManifest(spark, path, 1L)
    assert(m1.size === 2)
    assert(m1.map(_.filePath.split("/").takeRight(3).mkString("/")).distinct.size === 1,
      "precondition lost: files no longer share their last three path segments")

    // r1 is row 0 of the p1=a file; r3 is row 0 of the p1=b file — a
    // colliding key would kill both
    SnapshotTable.deleteWithVectors(spark, path, col("id") === "r1")
    val m2 = SnapshotTable.readManifest(spark, path, 2L)
    assert(m2.count(_.dv.isDefined) === 1, "DV attached to more than the one touched file")
    val after = SnapshotTable.read(spark, path)
    assert(after.count() === 3)
    assert(after.filter(col("id") === "r1").count() === 0)
    assert(after.filter(col("p1") === "b").count() === 2,
      "DV leaked into the wrong partition's file")
    assert(SnapshotTable.count(spark, path) === 3)
  }

  test("auto-tiered delete: thresholds past Int.MaxValue neither overflow nor trip the DV cap") {
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date"))
    // Long.MaxValue threshold: the old (threshold+1).toInt overflowed
    // (negative limit → empty probe → silent no-op), and a threshold
    // above deleteWithVectors' default cap used to trip its cap error
    // instead of routing — the threshold IS the cap now
    val v = SnapshotTable.deleteAuto(spark, path, col("v") === 0.0,
      dvThreshold = Long.MaxValue)
    assert(v === 2L)
    assert(SnapshotTable.opOf(spark, path, 2L) === Some("delete_dv"))
    assert(SnapshotTable.read(spark, path).count() === 4)
  }

  test("changes() does not trust an op=compact label that is not row-preserving") {
    // op names are advisory: an external/buggy writer can publish a
    // commit labelled compact that actually drops rows. The CDC fast
    // path must verify row preservation from the manifest (footer rows
    // minus DV counts) and fall back to the multiset diff when the
    // label lies — otherwise real deletes vanish from the feed.
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path,
      Seq("event_date"))
    val logV1 = java.nio.file.Paths.get(s"$path/_graft_log/v1")
    val lines = new String(java.nio.file.Files.readAllBytes(logV1), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)
    val forged = (lines.filter(_.startsWith("#")).filterNot(_.startsWith("#op=")) :+
      "#op=compact") ++
      lines.filterNot(l => l.startsWith("#") || l.contains("event_date=2024-01-02"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$path/_graft_log/v2"),
      forged.mkString("\n").getBytes("UTF-8"))

    val c = SnapshotTable.changes(spark, path, 1L, 2L)
    assert(c.count() === 5, "mislabelled compact silently skipped — deletes lost")
    assert(c.select("_change_type").distinct().collect().map(_.getString(0)).toSeq
      === Seq("delete"))
    assert(c.select("event_date").distinct().head.getString(0) === "2024-01-02")
    // and a GENUINE compact still contributes zero changes (fast path intact)
    SnapshotTable.compact(spark, path, numFiles = 1)
    val top = SnapshotTable.latestVersion(spark, path).get
    assert(SnapshotTable.changes(spark, path, top - 1, top).count() === 0)
    // every verified row-preserving maintenance rewrite takes the
    // same fast path: the commit-time policies' versions contribute
    // zero changes too (a CDC reader crossing maintenance commits on
    // a continuously-ingesting table must not pay a data diff)
    SnapshotTable.compact(spark, path, numFiles = 1,
      clusterCol = Some("v"))
    SnapshotTable.setAutoCluster(spark, path, minStaleFiles = 1)
    SnapshotTable.append(mkRows("z", Seq("2024-01-03")), path,
      Seq("event_date"))                      // fires autocluster after it
    val head = SnapshotTable.latestVersion(spark, path).get
    assert(SnapshotTable.opOf(spark, path, head) === Some("autocluster"))
    assert(SnapshotTable.changes(spark, path, head - 1, head).count() === 0)
  }

  test("restore publishes the old state as a new version; history and time travel intact") {
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), path,
      Seq("event_date"))                                       // v1: 10 rows
    SnapshotTable.delete(spark, path, col("v") >= 20.0)        // v2: 4 rows
    val v3 = SnapshotTable.restore(spark, path, 1L)
    assert(v3 === 3L)
    assert(SnapshotTable.read(spark, path).count() === 10, "restore must undo the delete")
    assert(SnapshotTable.opOf(spark, path, 3L) === Some("restore"))
    // the deleted state remains time-travelable — restore is a commit,
    // not a rollback of history
    assert(SnapshotTable.read(spark, path, Some(2L)).count() === 4)
    assert(SnapshotTable.read(spark, path, Some(1L)).count() === 10)
    // restoring costs no data write: v3 references v1's files
    assert(SnapshotTable.readManifest(spark, path, 3L).map(_.filePath).toSet
      === SnapshotTable.readManifest(spark, path, 1L).map(_.filePath).toSet)
    // writes continue normally on top
    SnapshotTable.append(mkRows("b", Seq("2024-01-03")), path, Seq("event_date"))
    assert(SnapshotTable.read(spark, path).count() === 15)
  }

  test("tags pin versions: name resolution, vacuum protection, drop releases") {
    val path = Files.createTempDirectory("graft-snap").toString + "/t"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01")), path, Seq("event_date")) // v1
    SnapshotTable.tag(spark, path, "golden")
    SnapshotTable.overwritePartitions(
      mkRows("b", Seq("2024-01-01")), path, Seq("event_date"))                    // v2
    SnapshotTable.append(mkRows("c", Seq("2024-01-02")), path, Seq("event_date")) // v3
    assert(SnapshotTable.tagVersion(spark, path, "golden") === Some(1L))
    assert(SnapshotTable.tags(spark, path) === Map("golden" -> 1L))

    // a numeric tag would shadow version numbers in SQL
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.tag(spark, path, "7")
    }.getMessage.contains("numeric"))
    // duplicate needs replace
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.tag(spark, path, "golden", Some(2L))
    }.getMessage.contains("replace"))

    // vacuum keeps the tagged version AND its files readable
    SnapshotTable.vacuum(spark, path, keepVersions = 1)
    assert(SnapshotTable.versions(spark, path).contains(1L), "tagged version expired")
    assert(SnapshotTable.read(spark, path, Some(1L)).count() === 5)
    assert(!SnapshotTable.versions(spark, path).contains(2L), "untagged v2 should expire")

    // dropping the tag releases it for retention
    SnapshotTable.dropTag(spark, path, "golden")
    SnapshotTable.vacuum(spark, path, keepVersions = 1)
    assert(!SnapshotTable.versions(spark, path).contains(1L))
    assert(SnapshotTable.read(spark, path).count() === 10)
  }

  test("shallow clone: zero-copy fork, independent divergence, vacuum ownership guard") {
    val base = Files.createTempDirectory("graft-clone").toString
    val src = s"$base/src"
    val clone = s"$base/clone"
    SnapshotTable.append(mkRows("a", Seq("2024-01-01", "2024-01-02")), src,
      Seq("event_date"))                                       // src v1
    SnapshotTable.tag(spark, src, "golden")
    SnapshotTable.append(mkRows("b", Seq("2024-01-03")), src,
      Seq("event_date"))                                       // src v2

    // clone from the tag: references src v1's exact files, zero copy
    assert(SnapshotTable.shallowClone(spark, src, clone, tagName = Some("golden")) === 1L)
    assert(SnapshotTable.readManifest(spark, clone, 1L).map(_.filePath).toSet
      === SnapshotTable.readManifest(spark, src, 1L).map(_.filePath).toSet)
    assert(SnapshotTable.read(spark, clone).count() === 10)
    assert(SnapshotTable.opOf(spark, clone, 1L) === Some("clone"))

    // divergence: writes on either side never reach the other
    SnapshotTable.append(mkRows("c", Seq("2024-01-04")), clone, Seq("event_date"))
    SnapshotTable.delete(spark, src, col("v") >= 30.0)
    assert(SnapshotTable.read(spark, clone).count() === 15)
    assert(SnapshotTable.read(spark, src).count() === 9)
    // 4 "a" rows + 2 "c" rows with v >= 30 — all still in the clone
    assert(SnapshotTable.read(spark, clone).filter(col("v") >= 30.0).count() === 6,
      "source delete leaked into the clone")

    // cloning into an existing table is refused
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.shallowClone(spark, src, clone)
    }.getMessage.contains("already has commits"))

    // vacuum on the CLONE must not delete source-owned files
    SnapshotTable.vacuum(spark, clone, keepVersions = 1)
    assert(SnapshotTable.read(spark, src, Some(1L)).count() === 10,
      "clone vacuum deleted source files")
    // compact materializes the clone into its own files
    SnapshotTable.compact(spark, clone, numFiles = 2)
    val srcRoot = new org.apache.hadoop.fs.Path(src).toUri.getPath
    assert(SnapshotTable.liveFiles(spark, clone)
      .forall(f => !new org.apache.hadoop.fs.Path(f).toUri.getPath.startsWith(srcRoot + "/")),
      "compact left source references in the clone")
    assert(SnapshotTable.read(spark, clone).count() === 15)
  }

  test("commit lock: release only removes its own incarnation; foreign lock left intact") {
    spark // force session init (withLock resolves SparkSession.active)
    val dir = Files.createTempDirectory("graft-lock").toString + "/t"
    val p = new FileCommitLockProvider(leaseMs = 60000L, acquireTimeoutMs = 5000L)
    val lockFile = java.nio.file.Paths.get(s"$dir/_graft_log/.commit.lock")
    p.withLock(dir) {
      // simulate a breaker stealing + re-acquiring while we run (e.g.
      // after a long GC pause suppressed our heartbeats)
      java.nio.file.Files.delete(lockFile)
      java.nio.file.Files.write(lockFile, "foreign-token".getBytes("UTF-8"))
    }
    assert(java.nio.file.Files.exists(lockFile),
      "release clobbered a lock it no longer owned")
    assert(new String(java.nio.file.Files.readAllBytes(lockFile), "UTF-8")
      === "foreign-token")
  }

  test("commit lock: heartbeat keeps a slow holder alive past the lease; no overlap") {
    spark
    val dir = Files.createTempDirectory("graft-lock").toString + "/t"
    val p = new FileCommitLockProvider(leaseMs = 300L, acquireTimeoutMs = 15000L)
    val inside = new java.util.concurrent.atomic.AtomicBoolean(false)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = Future {
      p.withLock(dir) { inside.set(true); Thread.sleep(1500); inside.set(false) }
    }
    Thread.sleep(200) // let the holder acquire
    val contender = Future {
      p.withLock(dir) { if (inside.get()) overlapped.set(true) }
    }
    Await.result(holder, 30.seconds)
    Await.result(contender, 30.seconds)
    assert(!overlapped.get(),
      "a live holder slower than the lease was broken (heartbeat not renewing)")
  }

  test("commit lock: a crashed holder's stale lock is broken via its observed token") {
    spark
    val dir = Files.createTempDirectory("graft-lock").toString + "/t"
    val lockFile = java.nio.file.Paths.get(s"$dir/_graft_log/.commit.lock")
    java.nio.file.Files.createDirectories(lockFile.getParent)
    java.nio.file.Files.write(lockFile, "dead-holder".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(lockFile,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000L))
    val p = new FileCommitLockProvider(leaseMs = 500L, acquireTimeoutMs = 10000L)
    var ran = false
    p.withLock(dir) { ran = true }
    assert(ran)
    assert(!java.nio.file.Files.exists(lockFile), "lock not released after a broken lease")
  }
}
