package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** Differential contract for the key file finder
  * ([[SnapshotTable.keyRewriteSet]]) on generated tables: long,
  * string, double (with NaN) and decimal keys; clustered and random
  * key layouts; files written by append (no stats) and by merge (key
  * stats), with blooms on some files of a long/string-keyed table;
  * NULL keys; and key columns renamed after the files were written.
  * Every statement source is tried as a literal frame and as a
  * parquet-read one, below the cap (driver tier) and above it
  * (range-join tier). For each, every file holding a matching row must
  * be in the rewrite set; and a merge and a deleteKeys must leave the
  * table equal to a plain-Spark replay of the statement.
  */
class KeyFinderSpec extends SparkTestBase {
  import spark.implicits._

  private case class Case(kind: Int, clustered: Boolean, blooms: Boolean,
      renamed: Boolean, files: Seq[(Boolean, Seq[Option[Int]])], nanRow: Boolean,
      mergeKeys: Seq[Option[Int]], deleteKeys: Seq[Option[Int]], caps: (Int, Int),
      literal: (Boolean, Boolean))

  private val Default = SnapshotTable.KeyTupleCap
  private val NaNId = -1

  private val keyTypes: Seq[DataType] =
    Seq(LongType, StringType, DoubleType, DecimalType(10, 2))

  /** The key value of id `i` in type kind `kind`; order-preserving, so a
    * clustered layout gives tight bounds. */
  private def keyOf(kind: Int, i: Int): Any = kind match {
    case 0 => i.toLong
    case 1 => f"k$i%03d"
    case 2 => if (i == NaNId) Double.NaN else i * 1.5
    case _ => java.math.BigDecimal.valueOf(i.toLong * 25, 2)
  }

  private val genCase: Gen[Case] = for {
    kind <- Gen.choose(0, 3)
    clustered <- Gen.oneOf(true, false)
    blooms <- Gen.oneOf(true, false)
    renamed <- Gen.oneOf(true, false)
    nFiles <- Gen.choose(2, 5)
    perFile <- Gen.listOfN(nFiles, Gen.choose(1, 5))
    ids <- Gen.pick(perFile.sum, 0 until 60).map(_.toSeq)
    layout <- if (clustered) Gen.const(ids.sorted) else Gen.const(ids)
    stats <- Gen.listOfN(nFiles, Gen.oneOf(true, false))
    nulls <- Gen.listOfN(nFiles, Gen.oneOf(true, false, false))
    nanRow <- Gen.oneOf(true, false)
    hits <- Gen.someOf(ids)
    misses <- Gen.someOf(60 until 66)
    srcNull <- Gen.oneOf(true, false)
    delIds <- Gen.someOf(ids ++ (60 until 66))
    caps <- Gen.oneOf((Default, 1), (1, Default), (0, Default), (Default, 0))
    literal <- Gen.oneOf((true, false), (false, true), (true, true), (false, false))
  } yield {
    val bounds = perFile.scanLeft(0)(_ + _)
    val files = perFile.indices.map { f =>
      val ks = layout.slice(bounds(f), bounds(f + 1)).map(Option(_))
      (stats(f), if (nulls(f)) ks :+ None else ks)
    }
    val nan = nanRow && kind == 2
    val srcNan = if (nan) Seq(Some(NaNId)) else Nil
    Case(kind, clustered, blooms && kind <= 1, renamed, files, nan,
      (hits ++ misses).toSeq.map(Option(_)) ++ srcNan ++ (if (srcNull) Seq(None) else Nil),
      delIds.toSeq.map(Option(_)) ++ srcNan ++ (if (srcNull) Seq(None) else Nil),
      caps, literal)
  }

  private def frame(c: Case, key: String, rows: Seq[(Option[Int], String)]): DataFrame = {
    val schema = StructType(Seq(StructField(key, keyTypes(c.kind)),
      StructField("v", StringType)))
    spark.createDataFrame(
      rows.map { case (k, v) => Row(k.map(keyOf(c.kind, _)).orNull, v) }.asJava, schema)
  }

  private def parquetRead(df: DataFrame): DataFrame = {
    val p = Files.createTempDirectory("graft-kf-src").toString
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def build(c: Case, path: String): String = {
    c.files.zipWithIndex.foreach { case ((withStats, ks), f) =>
      val rows = ks.map(k => (k, s"old$f")) ++
        (if (c.nanRow && f == 0) Seq((Some(NaNId), "old0")) else Nil)
      val df = frame(c, "k", rows).coalesce(1)
      if (withStats) SnapshotTable.merge(df, path, Seq("k"))
      else SnapshotTable.append(df, path)
      // the first file is written before the bloom columns are set
      if (f == 0 && c.blooms) SnapshotTable.setBloomColumns(spark, path, Seq("k"))
    }
    if (c.renamed) { SnapshotTable.renameColumn(spark, path, "k", "kk"); "kk" }
    else "k"
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq

  /** Every file holding a row that matches a source key, by Spark's own
    * semi-join over the live files. */
  private def holding(rw: SnapshotTable.Rewrite, src: DataFrame, key: String): Set[String] = {
    val hit = SnapshotTable.readGroups(spark, rw.entries, rw.m.schema, rw.m.colmap)
      .select(col(key), input_file_name().as("__f"))
      .join(src.select(key).distinct(), Seq(key), "left_semi")
      .select("__f").distinct().collect()
      .map(r => SnapshotTable.normInputFile(r.getString(0))).toSet
    rw.entries.map(_.filePath).filter(f => hit(SnapshotTable.normFile(f))).toSet
  }

  /** Both source forms at three caps: each rewrite set must cover every
    * file holding a match. */
  private def checkFinder(clue: String, path: String, src: DataFrame, key: String): Unit = {
    val rw = SnapshotTable.rewriteAt(spark, path).get
    val want = holding(rw, src, key)
    val srcPq = parquetRead(src)
    for ((s, form) <- Seq((src, "literal"), (srcPq, "parquet")); cap <- Seq(Default, 1, 0)) {
      val got = SnapshotTable.keyRewriteSet(rw, s, Seq(key), cap)
      assert(want.subsetOf(got), s"$clue, $form source, cap $cap: missed ${rw.entries.filter(e => (want -- got)(e.filePath))}")
    }
  }

  test("generated tables: the rewrite set covers every matching file, and merge " +
      "and deleteKeys equal a plain-Spark replay, in both tiers") {
    (1 to 12).foreach { seed =>
      val c = genCase.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val clue = s"seed $seed: $c"
      val path = Files.createTempDirectory("graft-kf").toString + "/t"
      val key = build(c, path)

      // merge: unmatched table rows survive, every source row lands
      val mLit = frame(c, key, c.mergeKeys.map(k => (k, "new")))
      checkFinder(s"$clue, merge", path, mLit, key)
      val pre = SnapshotTable.read(spark, path)
      val mSrc = if (c.literal._1) mLit else parquetRead(mLit)
      val mWant = rows(pre.join(mSrc.select(key), Seq(key), "left_anti")
        .unionByName(mSrc))
      SnapshotTable.mergeWithCap(mSrc, path, Seq(key), Nil, None, c.caps._1)
      assert(rows(SnapshotTable.read(spark, path)) === mWant, s"$clue: merge")

      // deleteKeys: only rows matching no source key survive
      val dLit = frame(c, key, c.deleteKeys.map(k => (k, "del"))).select(key)
      checkFinder(s"$clue, deleteKeys", path, dLit, key)
      val dSrc = if (c.literal._2) dLit else parquetRead(dLit)
      val dWant = rows(SnapshotTable.read(spark, path).join(dSrc, Seq(key), "left_anti"))
      SnapshotTable.clauseMerge(dSrc, path, Seq(key), Seq(MergeDelete()), Nil, Nil,
        "t", "s", Nil, None, "delete_keys", c.caps._2)
      assert(rows(SnapshotTable.read(spark, path)) === dWant, s"$clue: deleteKeys")
    }
  }
}
