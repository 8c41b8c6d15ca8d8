package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** A/B contract for the two tiers of the key file finder
  * ([[SnapshotTable.keyRewriteSet]]): the SAME merge or deleteKeys
  * driven once at the default cap (the driver tier, which binds the
  * analyzed join condition to each key tuple and compiles it with
  * readWhere's skip compiler) and once with the cap at 0 (the
  * range-join tier) must produce the identical final table (multiset)
  * and, where both tiers see the same stats, the identical rewrite set
  * (same number of files replaced by the commit). The shapes are the
  * ones a driver-side copy of the pruning rules once got wrong: NULL
  * key components, cross-TYPED sources (Int values for a string key
  * and vice versa — the join casts and still matches, so no tier may
  * drop the tuple), NaN keys, decimal keys, sources past the cap and
  * case-ambiguous source columns.
  */
class MergeLocalKeysSpec extends SparkTestBase {
  import spark.implicits._

  private val Default = SnapshotTable.KeyTupleCap

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-mlk").toString + "/t"

  /** (final rows as sorted Seq, files removed by the merge commit). */
  private def runMerge(build: String => Unit, source: DataFrame,
      keys: Seq[String], cap: Int): (Seq[String], Int) = {
    val path = tmp()
    build(path)
    val before = SnapshotTable.latestVersion(spark, path).get
    val prevFiles = SnapshotTable.readManifest(spark, path, before)
      .map(_.filePath).toSet
    SnapshotTable.mergeWithCap(source, path, keys, Nil, None, cap)
    val after = SnapshotTable.latestVersion(spark, path).get
    val curFiles = SnapshotTable.readManifest(spark, path, after)
      .map(_.filePath).toSet
    val rows = SnapshotTable.read(spark, path).collect()
      .map(_.toString).sorted.toSeq
    (rows, (prevFiles -- curFiles).size)
  }

  private def check(build: String => Unit, source: DataFrame,
      keys: Seq[String]): Unit = {
    val (fastRows, fastRewrites) = runMerge(build, source, keys, Default)
    val (distRows, distRewrites) = runMerge(build, source, keys, 0)
    assert(fastRows === distRows,
      "driver-tier merge result diverged from the range-join tier")
    assert(fastRewrites === distRewrites,
      "driver-tier rewrite set size diverged from the range-join tier")
  }

  /** 3 files of 4 rows each on a long key with clustered ranges,
    * seeded through merge so every file records k min/max stats
    * (plain append records none) and pruning has real work to do. */
  private def buildLongTable(path: String): Unit =
    (0 until 3).foreach { f =>
      SnapshotTable.merge(
        (0 until 4).map(i => (f * 100L + i, s"v$f-$i")).toDF("k", "s")
          .coalesce(1), path, Seq("k"))
    }

  test("long keys: hits, misses, and a NULL key component match the " +
      "distributed path (rows and rewrite set)") {
    check(buildLongTable, Seq((101L, "upd")).toDF("k", "s"), Seq("k"))
    check(buildLongTable, Seq((9999L, "ins")).toDF("k", "s"), Seq("k"))
    check(buildLongTable,
      Seq((Some(2L), "upd"), (None, "nullkey"))
        .toDF("k", "s"), Seq("k"))
  }

  test("string keys prune via UTF-8 string bounds identically") {
    def build(path: String): Unit =
      (0 until 3).foreach { f =>
        SnapshotTable.merge(
          (0 until 4).map(i => (s"k${('a' + f).toChar}$i", f * 10 + i))
            .toDF("k", "n").coalesce(1), path, Seq("k"))
      }
    check(build, Seq(("kb2", 99)).toDF("k", "n"), Seq("k"))
    check(build, Seq(("zz", 1), ("ka0", 2)).toDF("k", "n"), Seq("k"))
  }

  /** deleteKeys shares keyRewriteSet but never appends the source, so
    * (unlike merge, whose commit drift-gates a cross-typed source
    * loudly) it is the path where a wrongly pruned file would turn
    * into a silent lost delete. Runs deleteKeys' clause merge. */
  private def runDeleteKeys(build: String => Unit, source: DataFrame,
      keys: Seq[String], cap: Int): (Seq[String], Int) = {
    val path = tmp()
    build(path)
    val before = SnapshotTable.latestVersion(spark, path).get
    val prevFiles = SnapshotTable.readManifest(spark, path, before)
      .map(_.filePath).toSet
    SnapshotTable.clauseMerge(source, path, keys, Seq(MergeDelete()), Nil, Nil,
      "t", "s", Nil, None, "delete_keys", cap)
    val after = SnapshotTable.latestVersion(spark, path).get
    val curFiles = SnapshotTable.readManifest(spark, path, after)
      .map(_.filePath).toSet
    val rows = SnapshotTable.read(spark, path).collect()
      .map(_.toString).sorted.toSeq
    (rows, (prevFiles -- curFiles).size)
  }

  test("cross-typed deleteKeys (Int values for a STRING key column) " +
      "falls back and still deletes — the r20-advice lost-update shape") {
    // file 3 holds "0100".."0103": bounds ["0100","0103"] exclude the
    // string "101", yet "0101" equals 101 as a number
    def build(path: String): Unit =
      Seq((0 until 4).map(i => s"$i"), (100 until 104).map(i => s"$i"),
          (200 until 204).map(i => s"$i"), (100 until 104).map(i => s"0$i"))
        .zipWithIndex.foreach { case (ks, f) =>
          SnapshotTable.merge(ks.zipWithIndex.map { case (k, i) => (k, s"v$f-$i") }
            .toDF("k", "s").coalesce(1), path, Seq("k"))
        }
    // source key is an INT; the anti-join compares the string key as
    // a number, so "101" and "0101" both equal 101 — a file pruned by
    // the string bounds of "101" would silently keep its row
    val src = Seq(Tuple1(101)).toDF("k")
    val (fastRows, fastRw) = runDeleteKeys(build, src, Seq("k"), Default)
    val (distRows, distRw) = runDeleteKeys(build, src, Seq("k"), 0)
    assert(fastRows === distRows && fastRw === distRw)
    assert(!fastRows.exists(_.contains("v1-1")), "matched row must be gone")
    assert(!fastRows.exists(_.contains("v3-1")), "\"0101\" equals 101 and must be gone")
    // the string key is compared through a cast, so its string bounds
    // say nothing about the match: every file is a candidate
    assert(fastRw === 4, "every file must be a candidate")
  }

  test("cross-typed deleteKeys (String values for a LONG key column) " +
      "falls back and still deletes") {
    val src = Seq(Tuple1("101")).toDF("k")
    val (fastRows, fastRw) = runDeleteKeys(buildLongTable, src, Seq("k"), Default)
    val (distRows, distRw) = runDeleteKeys(buildLongTable, src, Seq("k"), 0)
    assert(fastRows === distRows)
    assert(!fastRows.exists(_.contains("v1-1")), "matched row must be gone")
    // the analyzed condition casts the string literal to the LONG key,
    // so the driver tier prunes by its bounds; the range-join tier
    // takes no range from a cross-typed column and keeps all 3 files
    assert((fastRw, distRw) === (1, 3))
  }

  test("NaN double keys fall back to the distributed path's NaN " +
      "ordering") {
    def build(path: String): Unit =
      (0 until 2).foreach { f =>
        SnapshotTable.merge(
          (0 until 4).map(i => (f * 10.0 + i, s"v$f-$i")).toDF("k", "s")
            .coalesce(1), path, Seq("k"))
      }
    check(build, Seq((Double.NaN, "nan"), (11.0, "upd")).toDF("k", "s"),
      Seq("k"))
  }

  test("decimal keys take the same decisions as the join") {
    def build(path: String): Unit =
      (0 until 2).foreach { f =>
        SnapshotTable.merge(
          (0 until 4).map(i => (BigDecimal(f * 100 + i), s"v$f-$i"))
            .toDF("k", "s").coalesce(1), path, Seq("k"))
      }
    check(build, Seq((BigDecimal(101), "upd")).toDF("k", "s"), Seq("k"))
  }

  test("multi-column keys and a source past the cap both match") {
    def build(path: String): Unit =
      (0 until 3).foreach { f =>
        SnapshotTable.merge(
          (0 until 4).map(i => (f.toLong, s"s$i", f * 10 + i))
            .toDF("a", "b", "n").coalesce(1), path, Seq("a", "b"))
      }
    check(build, Seq((1L, "s2", 99), (7L, "s0", 1)).toDF("a", "b", "n"),
      Seq("a", "b"))
    // 9 distinct tuples with the cap at 4: past the cap the range-join
    // tier runs — same result as with the cap at 0
    val big = (0 until 9).map(i => (i.toLong, s"s${i % 4}", 1000 + i))
      .toDF("a", "b", "n")
    val (fastRows, _) = runMerge(build, big, Seq("a", "b"), 4)
    val (distRows, _) = runMerge(build, big, Seq("a", "b"), 0)
    assert(fastRows === distRows)
  }

  // ---- derived (non-literal) sources ------------------------------
  // A derived source pays one bounded collect of its distinct key
  // tuples, and only on a table whose key carries a bloom — the collect
  // a bloom probe needs anyway; otherwise it takes the range-join tier.
  // Same A/B contract as the literal path, driven by sources whose
  // plan is NOT a LocalRelation (parquet round-trip).

  /** Long-key table with blooms on k, seeded via merge so every file
    * records k stats AND a k bloom. */
  private def buildBloomedLongTable(path: String): Unit = {
    val first = (0 until 4).map(i => (0L + i, s"v0-$i")).toDF("k", "s")
    SnapshotTable.create(spark, path, first.schema)
    SnapshotTable.setBloomColumns(spark, path, Seq("k"))
    (0 until 3).foreach { f =>
      SnapshotTable.merge(
        (0 until 4).map(i => (f * 100L + i, s"v$f-$i")).toDF("k", "s")
          .coalesce(1), path, Seq("k"))
    }
  }

  /** Round-trips a literal frame through parquet so its plan leaf is
    * a file scan, not a LocalRelation — the shape every real
    * correction batch (a derived frame) has. */
  private def derived(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft-mlk-src").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  test("derived (non-literal) sources on a bloomed table: hit, miss, " +
      "NULL component, and past-cap all match the distributed path") {
    check(buildBloomedLongTable,
      derived(Seq((101L, "upd")).toDF("k", "s")), Seq("k"))
    check(buildBloomedLongTable,
      derived(Seq((9999L, "ins")).toDF("k", "s")), Seq("k"))
    check(buildBloomedLongTable,
      derived(Seq((Some(2L), "upd"), (None, "nullkey")).toDF("k", "s")),
      Seq("k"))
    // 9 distinct keys with the cap at 4: the collected rows exceed the
    // cap and the range-join tier runs — same outcome as cap 0
    val big = derived((0 until 9).map(i => (i * 50L, s"u$i")).toDF("k", "s"))
    val (fastRows, fastRw) = runMerge(buildBloomedLongTable, big, Seq("k"), 4)
    val (distRows, distRw) = runMerge(buildBloomedLongTable, big, Seq("k"), 0)
    assert(fastRows === distRows && fastRw === distRw)
  }

  test("cross-typed derived source (String values for a LONG bloomed " +
      "key) falls back and still updates") {
    // the source k is STRING: the analyzed condition casts it to the
    // LONG key, so the driver tier probes bounds and bloom with 101L;
    // the range-join tier takes no range from a cross-typed column and
    // keeps all 3 files — the row must be updated either way
    val src = derived(Seq(("101", "upd")).toDF("k", "s"))
    val (fastRows, fastRw) = runMerge(buildBloomedLongTable, src, Seq("k"), Default)
    val (distRows, distRw) = runMerge(buildBloomedLongTable, src, Seq("k"), 0)
    assert(fastRows === distRows)
    assert((fastRw, distRw) === (1, 3))
    assert(fastRows.exists(_.contains("upd")), "matched row must be updated")
  }

  test("the shared collect really removes a probe job (bloomed table, " +
      "derived source)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def countJobs(run: => Unit): Int = {
      jobs.set(0)
      spark.sparkContext.addSparkListener(listener)
      try run
      finally {
        // listener events post asynchronously — let the bus drain
        Thread.sleep(1000)
        spark.sparkContext.removeSparkListener(listener)
      }
      jobs.get()
    }
    val path = tmp()
    buildBloomedLongTable(path)
    val rw = SnapshotTable.rewriteAt(spark, path).get
    val src = derived(Seq((101L, "upd")).toDF("k", "s"))
    // the finder's one collect is all it runs: no range join, no
    // second probe; a literal source runs no job at all
    val collect = countJobs(src.select("k").distinct().limit(Default + 1).collect())
    var found = Set.empty[String]
    val finder = countJobs { found = SnapshotTable.keyRewriteSet(rw, src, Seq("k")) }
    assert(finder === collect, s"finder ran $finder jobs, its collect $collect")
    assert(found.size === 1)
    val literal = countJobs {
      found = SnapshotTable.keyRewriteSet(rw, Seq((101L, "upd")).toDF("k", "s"), Seq("k"))
    }
    assert(literal === 0 && found.size === 1)
  }

  test("duplicate-cased source columns refuse the driver binding " +
      "(ambiguous) without changing the merge outcome") {
    // a local source with both `k` and `K` — the finder binds the key
    // through Spark's resolver, which rejects the ambiguous reference,
    // so BOTH tiers must throw
    val src = Seq((101L, 101L, "x")).toDF("k", "K", "s")
    def run(cap: Int): Throwable = {
      val path = tmp()
      buildLongTable(path)
      intercept[Throwable](SnapshotTable.mergeWithCap(src, path, Seq("k"), Nil, None, cap))
    }
    assert(run(Default).getClass === run(0).getClass)
  }
}
