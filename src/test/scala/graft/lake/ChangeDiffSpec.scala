package graft.lake

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** Differential contract for the change feed's per-version diff
  * ([[SnapshotTable.diffImages]]: one net-count aggregate plus, for
  * keyed versions, one key window) against the join formulation it
  * replaced, kept here as the reference: the ±1 net aggregate
  * replicated into an insert and a delete side, each split by a semi
  * and an anti join against the other side's distinct keys.
  *
  * Both are driven on generated added/removed multisets (NULL, NaN
  * and −0.0/0.0 key values; duplicates on both sides; single and
  * composite keys; keys changed on one side only; keyless diffs;
  * `_row_id` pairing) and on real commits, where the feed of version
  * v must equal the reference over the table read at v and at v−1
  * (rows the commit did not touch cancel either way). The
  * pure-append and pure-remove shortcuts of `changes()` are held to
  * the general diff on the same commits, and a plan-shape guard
  * keeps the diff from drifting back to the join tree.
  */
class ChangeDiffSpec extends SparkTestBase {
  import spark.implicits._

  private val Rid = SnapshotTable.RowIdCol

  private val schema = StructType(Seq(
    StructField("kd", DoubleType),
    StructField("ki", IntegerType),
    StructField("ks", StringType),
    StructField("v", IntegerType),
    StructField(Rid, LongType)))

  /** The replaced diff, verbatim in its plan shape. */
  private def reference(addDf: DataFrame, remDf: DataFrame,
      pairKeys: Seq[String]): DataFrame = {
    val sideC = "__graft_diff_side"
    val netC = "__graft_diff_net"
    val dataCols = addDf.columns.toSeq
    val net = addDf.withColumn(sideC, lit(1L))
      .unionByName(remDf.withColumn(sideC, lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col(sideC)).as(netC))
      .filter(col(netC) =!= 0L)
    def replicate(dir: org.apache.spark.sql.Column): DataFrame = net.filter(dir > 0L)
      .withColumn("__graft_diff_i", explode(sequence(lit(1L), dir)))
      .select(dataCols.map(col): _*)
    val insRaw = replicate(col(netC))
    val delRaw = replicate(-col(netC))
    if (pairKeys.nonEmpty && pairKeys.forall(dataCols.contains)) {
      val ks = pairKeys
      val insKeys = insRaw.select(ks.map(col): _*).distinct()
      val delKeys = delRaw.select(ks.map(col): _*).distinct()
      insRaw.join(delKeys, ks, "left_anti")
        .withColumn("_change_type", lit("insert"))
        .unionByName(insRaw.join(delKeys, ks, "left_semi")
          .withColumn("_change_type", lit("update_postimage")))
        .unionByName(delRaw.join(insKeys, ks, "left_anti")
          .withColumn("_change_type", lit("delete")))
        .unionByName(delRaw.join(insKeys, ks, "left_semi")
          .withColumn("_change_type", lit("update_preimage")))
    } else
      insRaw.withColumn("_change_type", lit("insert"))
        .unionByName(delRaw.withColumn("_change_type", lit("delete")))
  }

  /** Multiset of rows by column name (String forms keep −0.0, NaN
    * and NULL distinct from 0.0, each other and "null"). */
  private def bag(df: DataFrame): Map[Seq[(String, String)], Int] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect().toSeq
      .map(r => cols.zip(r.toSeq.map {
        case null => "<null>"
        case x => x.toString
      }))
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  private def frame(rows: Seq[Row], sch: StructType = schema): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), sch)

  private def assertSameFeed(got: DataFrame, want: DataFrame, clue: => String): Unit = {
    val (g, w) = (bag(got), bag(want))
    assert(g === w, s"$clue\nonly in new: ${g.toSeq.diff(w.toSeq)}" +
      s"\nonly in reference: ${w.toSeq.diff(g.toSeq)}")
  }

  // ---- generated multisets ------------------------------------------

  private val genRow: Gen[Row] = for {
    kd <- Gen.oneOf[Any](null, Double.NaN, -0.0, 0.0, 1.5)
    ki <- Gen.oneOf[Any](null, 1, 2)
    ks <- Gen.oneOf[Any](null, "a", "b")
    v <- Gen.choose(0, 2)
    rid <- Gen.oneOf[Any](null, 1L, 2L, 3L)
  } yield Row(kd, ki, ks, v, rid)

  /** (added, removed): rows carried on both sides, rows on one side
    * only, and repeats of either side's rows (multiplicity > 1). */
  private val genSides: Gen[(Seq[Row], Seq[Row])] = for {
    carried <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, genRow))
    addOnly <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, genRow))
    remOnly <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, genRow))
    add = carried ++ addOnly
    rem = carried ++ remOnly
    addDup <- if (add.isEmpty) Gen.const(Nil) else Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(add)))
    remDup <- if (rem.isEmpty) Gen.const(Nil) else Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(rem)))
  } yield (add ++ addDup, rem ++ remDup)

  private val keySets: Seq[Seq[String]] = Seq(
    Seq("kd"), Seq("ki", "ks"), Seq("kd", "ki", "ks"), Nil, Seq(Rid))

  /** 60 generated cases in one frame pair, each row tagged with its
    * case: a leading non-NULL `case` key component scopes every
    * pairing to its own case (keyless diffs carry it as data), so one
    * comparison per key set checks them all. */
  test("diffImages matches the join reference on generated added/removed multisets") {
    val cases = (1 to 60).map(seed =>
      genSides.pureApply(Gen.Parameters.default, Seed(seed.toLong)))
    def tagged(side: ((Seq[Row], Seq[Row])) => Seq[Row]): DataFrame =
      frame(cases.zipWithIndex.flatMap { case (c, i) =>
        side(c).map(r => Row.fromSeq(i +: r.toSeq)) },
        StructType(StructField("case", IntegerType, nullable = false) +: schema.fields))
    val (addDf, remDf) = (tagged(_._1), tagged(_._2))
    keySets.foreach { keys =>
      val scoped = if (keys.isEmpty) Nil else "case" +: keys
      assertSameFeed(SnapshotTable.diffImages(addDf, remDf, scoped),
        reference(addDf, remDf, scoped), s"keys $scoped")
    }
  }

  test("diffImages on hand-picked shapes: NULL, NaN and signed-zero keys, duplicates, one-sided keys") {
    val add = Seq(
      Row(Double.NaN, 1, "a", 1, 1L),  // NaN key, removed side has NaN too: pairs
      Row(-0.0, 1, "a", 1, 2L),        // −0.0 pairs with the removed 0.0
      Row(null, 1, "a", 1, 3L),        // NULL key: never pairs
      Row(1.5, 2, "b", 2, 4L),         // key 1.5 on the added side only
      Row(1.5, 2, "b", 2, 4L),         // ... twice
      Row(7.0, 1, "a", 0, 5L),         // carried unchanged: cancels
      Row(8.0, 1, null, 0, 6L))        // composite key with a NULL part
    val rem = Seq(
      Row(Double.NaN, 1, "a", 0, 1L),
      Row(0.0, 1, "a", 0, 2L),
      Row(null, 1, "a", 0, 3L),
      Row(9.0, 2, "b", 0, 7L),         // key 9.0 on the removed side only
      Row(9.0, 2, "b", 0, 7L),
      Row(9.0, 2, "b", 0, 7L),
      Row(7.0, 1, "a", 0, 5L),
      Row(8.0, 1, null, 1, 6L))
    val (addDf, remDf) = (frame(add), frame(rem))
    def kinds(keys: Seq[String]): Map[(Any, String), Int] =
      SnapshotTable.diffImages(addDf, remDf, keys).collect().toSeq
        .map(r => (r.get(0), r.getAs[String]("_change_type")))
        .groupBy(identity).view.mapValues(_.size).toMap
        .map { case ((k, t), n) => ((if (k == null) "null" else k.toString, t), n) }
    assert(kinds(Seq("kd")) === Map(
      ("NaN", "update_postimage") -> 1, ("NaN", "update_preimage") -> 1,
      ("0.0", "update_postimage") -> 1, ("0.0", "update_preimage") -> 1,
      ("null", "insert") -> 1, ("null", "delete") -> 1,
      ("1.5", "insert") -> 2, ("9.0", "delete") -> 3,
      ("8.0", "update_postimage") -> 1, ("8.0", "update_preimage") -> 1))
    // composite key with a NULL component: the 8.0 rows no longer pair
    assert(kinds(Seq("kd", "ks"))(("8.0", "insert")) === 1)
    assert(kinds(Seq("kd", "ks"))(("8.0", "delete")) === 1)
    // keyless: plain inserts and deletes only
    assert(kinds(Nil).keySet.map(_._2) === Set("insert", "delete"))
    // row ids pair exactly the ids present on both sides
    assert(kinds(Seq(Rid)).collect { case ((k, t), n) if t.startsWith("update_") => k }
      .toSet === Set("NaN", "0.0", "null", "8.0"))
    keySets.foreach(keys => assertSameFeed(SnapshotTable.diffImages(addDf, remDf, keys),
      reference(addDf, remDf, keys), s"keys $keys"))
  }

  // ---- real commits ------------------------------------------------

  private def tmp(): String = Files.createTempDirectory("graft-cdiff").toString + "/t"

  /** The feed of version v without `_commit_version`, next to the
    * reference over the whole table at v and v−1 under the keys the
    * commit pairs on (row ids on a tracking table, else its opKeys). */
  private def checkVersion(path: String, v: Long, tracking: Boolean): Unit = {
    val feed = SnapshotTable.changes(spark, path, v - 1, v, None,
      includeRowIds = tracking).drop("_commit_version")
    def at(x: Long): DataFrame =
      if (tracking) SnapshotTable.readWithRowIds(spark, path, Some(x))
      else SnapshotTable.read(spark, path, Some(x))
    val keys = if (tracking) Seq(Rid) else SnapshotTable.readManifestFull(spark, path, v).opKeys
    assertSameFeed(feed, reference(at(v), at(v - 1), keys),
      s"version $v of $path (keys $keys, op ${SnapshotTable.opOf(spark, path, v)})")
  }

  private val kSchema = StructType(Seq(
    StructField("k1", StringType), StructField("k2", DoubleType),
    StructField("v", IntegerType)))

  private def kRows(rows: (String, Double, Int)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (a, b, c) => Row(a, b, c) }, 1), kSchema)

  /** A three-file table (v1–v3), then keyed merges on a composite key
    * (with NaN and −0.0 key parts), an unkeyed update and a delete —
    * each a file-rewrite commit through the general diff. */
  private def buildKeyed(path: String, tracking: Boolean): Seq[Long] = {
    SnapshotTable.create(spark, path, kSchema, rowTracking = tracking)
    SnapshotTable.append(kRows(("a", 1.0, 1), ("a", Double.NaN, 2), ("b", 0.0, 3)), path)
    SnapshotTable.append(kRows(("c", 1.0, 4), ("c", 2.0, 5), ("c", 2.0, 5)), path)
    SnapshotTable.append(kRows(("d", 1.0, 6)), path)
    Seq(
      SnapshotTable.merge(kRows(("a", Double.NaN, 20), ("b", -0.0, 30), ("e", 1.0, 7)),
        path, Seq("k1", "k2")),
      SnapshotTable.update(spark, path, Seq("v" -> (col("v") + 100)), col("k1") === "c"),
      SnapshotTable.merge(kRows(("c", 2.0, 500), ("a", 1.0, 1)), path, Seq("k1", "k2")),
      SnapshotTable.delete(spark, path, col("v") === 7))
  }

  test("changes() equals the join reference on merge, update and delete commits") {
    val path = tmp()
    val vs = buildKeyed(path, tracking = false)
    vs.foreach(checkVersion(path, _, tracking = false))
    // the merge commits really are keyed: their feeds carry image pairs
    assert(SnapshotTable.changes(spark, path, vs.head - 1, vs.head)
      .filter(col("_change_type") === "update_postimage").count() === 2)
  }

  test("changes() equals the join reference on a row-tracking table (pairs by _row_id)") {
    val path = tmp()
    val vs = buildKeyed(path, tracking = true)
    vs.foreach(checkVersion(path, _, tracking = true))
    // the update pairs its duplicate rows by identity
    val upd = SnapshotTable.changes(spark, path, vs(1) - 1, vs(1), None, includeRowIds = true)
    assert(upd.filter(col("_change_type") === "update_preimage").count() === 3)
    assert(upd.filter(col("_change_type").isin("insert", "delete")).count() === 0)
  }

  test("pure-append and pure-remove steps give the general diff's multiset") {
    Seq(false, true).foreach { tracking =>
      val path = tmp()
      val schema = StructType(Seq(StructField("p", StringType),
        StructField("k", IntegerType), StructField("v", DoubleType)))
      SnapshotTable.create(spark, path, schema, rowTracking = tracking)
      def rows(p: String, n: Int): DataFrame =
        (0 until n).map(i => (p, i % 3, if (i == 0) Double.NaN else i.toDouble))
          .toDF("p", "k", "v")
      SnapshotTable.append(rows("x", 4), path)
      val vAppend = SnapshotTable.append(rows("y", 5), path)
      SnapshotTable.append(rows("z", 2), path)
      val vRemove = SnapshotTable.truncate(spark, path)
      def files(v: Long) = SnapshotTable.readManifest(spark, path, v).map(_.filePath).toSet
      // the commits have the shapes the shortcuts serve
      assert(files(vAppend - 1).subsetOf(files(vAppend)) && files(vAppend) != files(vAppend - 1))
      assert(files(vRemove).subsetOf(files(vRemove - 1)) && files(vRemove) != files(vRemove - 1))
      def at(x: Long): DataFrame =
        if (tracking) SnapshotTable.readWithRowIds(spark, path, Some(x))
        else SnapshotTable.read(spark, path, Some(x))
      Seq(vAppend, vRemove).foreach { v =>
        val feed = SnapshotTable.changes(spark, path, v - 1, v, None,
          includeRowIds = tracking).drop("_commit_version")
        val keys = if (tracking) Seq(Rid) else Nil
        assertSameFeed(feed, SnapshotTable.diffImages(at(v), at(v - 1), keys),
          s"version $v (tracking $tracking)")
        assert(feed.count() === (if (v == vAppend) 5 else 11))
      }
    }
  }

  // ---- plan shape --------------------------------------------------

  /** (shuffle, broadcast) exchanges in the feed's initial physical plan. */
  private def exchanges(df: DataFrame): (Int, Int) = {
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    (plan.collect { case e: ShuffleExchangeExec => e }.size,
      plan.collect { case e: BroadcastExchangeExec => e }.size)
  }

  test("one changed version plans one aggregate and, keyed, one window: no join tree") {
    Seq(false, true).foreach { tracking =>
      val path = tmp()
      val Seq(vMerge, vUpdate, _, _) = buildKeyed(path, tracking)
      val keyed = SnapshotTable.changes(spark, path, vMerge - 1, vMerge)
      val (ks, kb) = exchanges(keyed)
      assert(ks <= 2 && kb === 0,
        s"keyed version (tracking $tracking): $ks shuffles, $kb broadcasts\n" +
          keyed.queryExecution.executedPlan)
      if (!tracking) {
        val unkeyed = SnapshotTable.changes(spark, path, vUpdate - 1, vUpdate)
        val (us, ub) = exchanges(unkeyed)
        assert(us <= 1 && ub === 0,
          s"unkeyed version: $us shuffles, $ub broadcasts\n" +
            unkeyed.queryExecution.executedPlan)
      }
    }
  }
}
