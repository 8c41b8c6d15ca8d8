package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[SnapshotTable.mergeClauses]] — the full-clause MERGE surface:
  * conditional matched update/delete, conditional insert, NOT MATCHED
  * BY SOURCE, first-match-wins ordering, ambiguity guard, row-id and
  * identity behavior, and file-scope pruning. */
class MergeClausesSpec extends SparkTestBase {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-mc-$tag").toString + "/t"

  import SnapshotTable.{mergeClauses, read}

  private def seed(path: String): Unit = {
    import spark.implicits._
    SnapshotTable.append(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("k", "s", "v"), path)
  }

  private def state(path: String): Seq[(Long, String, Double)] = {
    import spark.implicits._
    read(spark, path).as[(Long, String, Double)].collect().sortBy(_._1).toSeq
  }

  test("conditional matched update fires only where the condition holds") {
    import spark.implicits._
    val path = tmp("cupd")
    seed(path)
    val src = Seq((1L, 5.0), (2L, 99.0)).toDF("k", "nv")
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(Some(col("s.nv") > col("t.v")),
        Seq("v" -> col("s.nv"), "s" -> upper(col("t.s"))))))
    // k=1: 5.0 > 10.0 false → untouched; k=2: 99 > 20 → updated
    assert(state(path) === Seq((1L, "a", 10.0), (2L, "B", 99.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("clause order: first matching WHEN clause wins") {
    import spark.implicits._
    val path = tmp("order")
    seed(path)
    val src = Seq((1L, 100.0), (2L, 1.0)).toDF("k", "nv")
    // conditional update first, unconditional delete second: k=1
    // (nv>50) updates, k=2 falls through to the delete
    mergeClauses(src, path, Seq("k"),
      matched = Seq(
        MergeUpdate(Some(col("s.nv") > 50.0), Seq("v" -> col("s.nv"))),
        MergeDelete()))
    assert(state(path) === Seq((1L, "a", 100.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("conditional insert admits only passing source rows; unassigned columns NULL") {
    import spark.implicits._
    val path = tmp("cins")
    seed(path)
    val src = Seq((8L, 80.0), (9L, -1.0)).toDF("k", "nv")
    mergeClauses(src, path, Seq("k"),
      notMatched = Seq(MergeInsert(Some(col("s.nv") >= 0.0),
        Seq("k" -> col("s.k"), "v" -> col("s.nv")))))
    val rows = read(spark, path).orderBy("k").collect()
    assert(rows.length === 5)
    val ins = rows.last
    assert(ins.getLong(0) === 8L && ins.isNullAt(1) && ins.getDouble(2) === 80.0)
  }

  test("NOT MATCHED BY SOURCE delete and update leave matched rows alone") {
    import spark.implicits._
    val path = tmp("nmbs")
    seed(path)
    val src = Seq((1L, 11.0), (2L, 22.0)).toDF("k", "nv")
    // matched rows update; unmatched ones with v>=40 delete, the rest
    // get flagged via s
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(None, Seq("v" -> col("s.nv")))),
      notMatchedBySource = Seq(
        MergeDelete(Some(col("t.v") >= 40.0)),
        MergeUpdate(None, Seq("s" -> concat(col("t.s"), lit("_stale"))))))
    assert(state(path) === Seq((1L, "a", 11.0), (2L, "b", 22.0),
      (3L, "c_stale", 30.0)))
  }

  test("NOT MATCHED BY SOURCE refuses source references (alias and source-only names)") {
    import spark.implicits._
    val path = tmp("nmbsrc")
    seed(path)
    val src = Seq((1L, 11.0)).toDF("k", "nv")
    // qualified source-alias reference in an NMBS assignment: there
    // is NO source row in this family — it would silently assign NULL
    val e1 = intercept[IllegalArgumentException](
      mergeClauses(src, path, Seq("k"),
        notMatchedBySource =
          Seq(MergeUpdate(None, Seq("v" -> col("s.nv"))))))
    assert(e1.getMessage.contains("source alias"))
    // qualified source reference in an NMBS condition
    val e2 = intercept[IllegalArgumentException](
      mergeClauses(src, path, Seq("k"),
        notMatchedBySource =
          Seq(MergeDelete(Some(col("s.nv") > 0.0)))))
    assert(e2.getMessage.contains("source alias"))
    // UNQUALIFIED reference to a column only the source has is just
    // as unambiguous a source reference
    val e3 = intercept[IllegalArgumentException](
      mergeClauses(src, path, Seq("k"),
        notMatchedBySource =
          Seq(MergeUpdate(None, Seq("v" -> (col("nv") + 1.0))))))
    assert(e3.getMessage.contains("source-only"))
    // nothing committed by any refused attempt
    assert(state(path) === Seq((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("insert-only merge with duplicate source keys is legal; matched clauses refuse them") {
    import spark.implicits._
    val path = tmp("dup")
    seed(path)
    val dup = Seq((7L, 1.0), (7L, 2.0), (1L, 9.0)).toDF("k", "nv")
    // insert-only: both k=7 rows insert (SQL), the matched k=1 skips
    mergeClauses(dup, path, Seq("k"),
      notMatched = Seq(MergeInsert(None, Seq("k" -> col("s.k"), "v" -> col("s.nv")))))
    assert(read(spark, path).count() === 6)
    // with a matched clause, the duplicate (1L twice) raises
    val dup2 = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "nv")
    val e = intercept[IllegalArgumentException](
      mergeClauses(dup2, path, Seq("k"),
        matched = Seq(MergeUpdate(None, Seq("v" -> col("s.nv"))))))
    assert(e.getMessage.contains("duplicate keys"))
    // so does a conditional DELETE: the condition reads the source row
    val e2 = intercept[IllegalArgumentException](
      mergeClauses(dup2, path, Seq("k"),
        matched = Seq(MergeDelete(Some(col("s.nv") > 0.0)))))
    assert(e2.getMessage.contains("duplicate keys"))
    assert(read(spark, path).count() === 6)
    // an unconditional-delete-only matched list needs key membership
    // only: duplicates are legal (Delta's delete-only MERGE rule)
    mergeClauses(dup2, path, Seq("k"), matched = Seq(MergeDelete()))
    assert(state(path).map(_._1) === Seq(2L, 3L, 4L, 7L, 7L))
  }

  test("NULL keys: target row falls to NOT MATCHED BY SOURCE, source row to INSERT") {
    import spark.implicits._
    val path = tmp("nullk")
    SnapshotTable.append(
      Seq((Some(1L), 10.0), (None, 20.0)).toDF("k", "v"), path)
    val src = Seq((Some(1L), 11.0), (Option.empty[Long], 99.0)).toDF("k", "nv")
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(None, Seq("v" -> col("s.nv")))),
      notMatched = Seq(MergeInsert(None,
        Seq("k" -> col("s.k"), "v" -> col("s.nv")))),
      notMatchedBySource = Seq(MergeUpdate(None, Seq("v" -> lit(-1.0)))))
    val rows = read(spark, path).orderBy(col("v")).collect()
      .map(r => (if (r.isNullAt(0)) -99L else r.getLong(0), r.getDouble(1))).toSeq
    // (1,11) updated; old NULL-key row → NMBS update v=-1; source
    // NULL-key row inserted at 99
    assert(rows === Seq((-99L, -1.0), (1L, 11.0), (-99L, 99.0)))
  }

  test("file scope: files that cannot match any clause carry over untouched") {
    import spark.implicits._
    val path = tmp("scope")
    // two widely separated key clusters in distinct stats-covered files
    SnapshotTable.appendClustered(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"),
      path, "k", numFiles = 1)
    SnapshotTable.appendClustered(Seq((1000L, 10.0), (2000L, 20.0)).toDF("k", "v"),
      path, "k", numFiles = 1)
    val before = SnapshotTable.liveFiles(spark, path).toSet
    // matched update hits only the low cluster; NMBS condition can
    // only hold in the low cluster too (v < 5) — the high file must
    // survive by reference
    val src = Seq((1L, 9.0)).toDF("k", "nv")
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(None, Seq("v" -> col("s.nv")))),
      notMatchedBySource = Seq(MergeDelete(Some(col("t.v") < 5.0))))
    val after = SnapshotTable.liveFiles(spark, path).toSet
    assert((before intersect after).nonEmpty,
      "stats-prunable file was rewritten despite no clause reaching it")
    assert(state2(path) === Seq((1L, 9.0), (1000L, 10.0), (2000L, 20.0)))
    // an UNCONDITIONED NMBS clause, by contrast, is a full-table
    // rewrite by semantics — every pre-merge file must be replaced
    // (the 100 TB guidance at the call site: condition the clause)
    val preUncond = SnapshotTable.liveFiles(spark, path).toSet
    mergeClauses(Seq((1L, 9.0)).toDF("k", "nv"), path, Seq("k"),
      notMatchedBySource =
        Seq(MergeUpdate(None, Seq("v" -> (col("t.v") + 0.0)))))
    val postUncond = SnapshotTable.liveFiles(spark, path).toSet
    assert((preUncond intersect postUncond).isEmpty,
      "unconditioned NMBS must touch every live file (full-table rewrite)")
  }

  private def state2(path: String): Seq[(Long, Double)] = {
    import spark.implicits._
    read(spark, path).as[(Long, Double)].collect().sortBy(_._1).toSeq
  }

  test("row tracking: updates keep the stable id, inserts mint fresh ones") {
    import spark.implicits._
    val path = tmp("rid")
    SnapshotTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), path)
    SnapshotTable.enableRowTracking(spark, path)
    val ridsBefore = SnapshotTable.readWithRowIds(spark, path)
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    val src = Seq((2L, 99.0), (3L, 30.0)).toDF("k", "nv")
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(Some(col("s.nv") > col("t.v")),
        Seq("v" -> col("s.nv")))),
      notMatched = Seq(MergeInsert(None,
        Seq("k" -> col("s.k"), "v" -> col("s.nv")))),
      notMatchedBySource = Seq(MergeUpdate(None, Seq("v" -> lit(0.0)))))
    val after = SnapshotTable.readWithRowIds(spark, path)
      .select("k", "_row_id").as[(Long, Long)].collect().toMap
    assert(after(1L) === ridsBefore(1L), "NMBS-updated row lost its row id")
    assert(after(2L) === ridsBefore(2L), "updated row lost its row id")
    assert(!ridsBefore.values.toSet.contains(after(3L)), "insert reused a row id")
  }

  test("guards: generated/identity assignment and reserved source columns refuse") {
    import spark.implicits._
    val path = tmp("guards")
    seed(path)
    val src = Seq((1L, 1.0)).toDF("k", "nv")
    val eNoClause = intercept[IllegalArgumentException](
      mergeClauses(src, path, Seq("k")))
    assert(eNoClause.getMessage.contains("at least one WHEN clause"))
    val eUnknown = intercept[IllegalArgumentException](
      mergeClauses(src, path, Seq("k"),
        matched = Seq(MergeUpdate(None, Seq("nope" -> lit(1))))))
    assert(eUnknown.getMessage.contains("not in the table"))
    val eStar = intercept[IllegalArgumentException](
      mergeClauses(src, path, Seq("k"),
        notMatchedBySource = Seq(MergeUpdate(None, Nil))))
    assert(eStar.getMessage.contains("NOT MATCHED BY SOURCE"))
    val eRid = intercept[IllegalArgumentException](
      mergeClauses(src.withColumn("__rid", lit(1L)), path, Seq("k"),
        matched = Seq(MergeDelete())))
    assert(eRid.getMessage.contains("__rid"))
  }

  test("SET * and INSERT * expand over same-named source columns") {
    import spark.implicits._
    val path = tmp("star")
    seed(path)
    // source shares (k, v) but not s — star assigns only those
    val src = Seq((2L, 222.0), (9L, 900.0)).toDF("k", "v")
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(Some(col("s.v") > col("t.v")), Nil)),
      notMatched = Seq(MergeInsert(None, Nil)))
    val rows = read(spark, path).orderBy("k").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L, 9L))
    assert(rows(1).getDouble(2) === 222.0 && rows(1).getString(1) === "b")
    assert(rows(4).isNullAt(1) && rows(4).getDouble(2) === 900.0)
  }

  test("CDC: the change feed pairs clause-merge updates by row id") {
    import spark.implicits._
    val path = tmp("cdc")
    SnapshotTable.append(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("k", "s", "v"), path)
    SnapshotTable.enableRowTracking(spark, path)
    val v0 = SnapshotTable.latestVersion(spark, path).get
    val src = Seq((2L, 99.0), (3L, 1.0), (9L, 90.0)).toDF("k", "nv")
    val v1 = mergeClauses(src, path, Seq("k"),
      matched = Seq(
        MergeUpdate(Some(col("s.nv") > col("t.v")), Seq("v" -> col("s.nv"))),
        MergeDelete()),
      notMatched = Seq(MergeInsert(None,
        Seq("k" -> col("s.k"), "v" -> col("s.nv")))),
      notMatchedBySource = Seq(
        MergeDelete(Some(col("t.v") >= 40.0)),
        MergeUpdate(None, Seq("s" -> concat(col("t.s"), lit("_x"))))))
    val feed = SnapshotTable.changes(spark, path, v0, v1, None,
      includeRowIds = true).persist()
    try {
      // k=2 matched-update and k=1 NMBS-update → image pairs, each
      // sharing ONE stable row id
      val pairs = feed.filter(col("_change_type").startsWith("update_"))
        .groupBy("k").agg(countDistinct("_row_id").as("ids"),
          org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(pairs === Seq((1L, 1L, 2L), (2L, 1L, 2L)))
      // k=3 matched-delete and k=4 NMBS-delete died; k=9 inserted
      assert(feed.filter(col("_change_type") === "delete")
        .select("k").as[Long].collect().sorted.toSeq === Seq(3L, 4L))
      assert(feed.filter(col("_change_type") === "insert")
        .select("k").as[Long].collect().toSeq === Seq(9L))
    } finally { feed.unpersist(); () }
  }

  test("hidden partitioning: clause merge re-derives the layout, moved rows prune correctly") {
    import spark.implicits._
    val path = tmp("hp")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    SnapshotTable.appendTransformed(
      Seq((1L, t("2024-01-01 10:00:00"), 1.0),
        (2L, t("2024-01-02 10:00:00"), 2.0),
        (3L, t("2024-01-03 10:00:00"), 3.0)).toDF("k", "ts", "v"),
      path, Seq("days(ts)"))
    // matched update MOVES k=1 to Jan 5 (cross-day rewrite) and NMBS
    // stamps the rest
    val src = Seq((1L, t("2024-01-05 09:00:00"))).toDF("k", "nts")
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(None, Seq("ts" -> col("s.nts")))),
      notMatchedBySource = Seq(MergeUpdate(None, Seq("v" -> (col("t.v") + 100.0)))))
    val jan5 = SnapshotTable.readWhere(spark, path,
      col("ts") >= t("2024-01-05 00:00:00"))
    assert(jan5.select("k").as[Long].collect().toSeq === Seq(1L))
    val all = SnapshotTable.read(spark, path).orderBy("k")
      .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
    assert(all.map(_._3) === Seq(1.0, 102.0, 103.0))
    // the moved row is NOT served from the stale Jan-1 layout
    val jan1 = SnapshotTable.readWhere(spark, path,
      col("ts") < t("2024-01-02 00:00:00"))
    assert(jan1.count() === 0)
  }

  test("column mapping: clause merge works under renamed logical names") {
    import spark.implicits._
    val path = tmp("cm")
    SnapshotTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), path)
    SnapshotTable.renameColumn(spark, path, "v", "amount")
    val src = Seq((2L, 99.0), (5L, 50.0)).toDF("k", "namount")
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(Some(col("s.namount") > col("t.amount")),
        Seq("amount" -> col("s.namount")))),
      notMatched = Seq(MergeInsert(None,
        Seq("k" -> col("s.k"), "amount" -> col("s.namount")))))
    assert(state2cm(path) === Seq((1L, 10.0), (2L, 99.0), (5L, 50.0)))
    // the OLD name is gone from both the table and the clause surface
    val e = intercept[Exception](
      mergeClauses(src, path, Seq("k"),
        matched = Seq(MergeUpdate(None, Seq("v" -> lit(0.0))))))
    assert(e.getMessage.contains("not in the table"))
  }

  private def state2cm(path: String): Seq[(Long, Double)] = {
    import spark.implicits._
    read(spark, path).select("k", "amount").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq
  }

  test("schema evolution: new source columns evolve the target; untouched rows read NULL") {
    import spark.implicits._
    val path = tmp("evo")
    seed(path) // k=1..4 in one file set
    val src = Seq((2L, 99.0, "gold"), (9L, 90.0, "new")).toDF("k", "v", "tier")
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(None, Nil)),
      notMatched = Seq(MergeInsert(None, Nil)),
      schemaEvolution = true)
    val rows = read(spark, path).select("k", "s", "v", "tier").orderBy("k")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSeq
    assert(rows === Seq(
      (1L, "a", 10.0, null), (2L, "b", 99.0, "gold"), (3L, "c", 30.0, null),
      (4L, "d", 40.0, null), (9L, null, 90.0, "new")))
    // without the flag, the same source refuses at assignment check
    val e = intercept[IllegalArgumentException](
      mergeClauses(src, path, Seq("k"),
        matched = Seq(MergeUpdate(None, Seq("nope2" -> lit(1))))))
    assert(e.getMessage.contains("not in the table"))
    // time travel: the pre-evolution version has no tier column
    assert(!read(spark, path, Some(1L)).columns.contains("tier"))
  }

  test("schema evolution: a reserved source column refuses before any column is added") {
    import spark.implicits._
    val path = tmp("evoreserved")
    seed(path)
    val v0 = SnapshotTable.latestVersion(spark, path)
    val cols0 = read(spark, path).columns.toSeq
    for (bad <- Seq("__rid", "__graft_x")) {
      val src = Seq((2L, 99.0, 7L)).toDF("k", "v", bad)
      val e = intercept[IllegalArgumentException](
        mergeClauses(src, path, Seq("k"),
          matched = Seq(MergeUpdate(None, Nil)),
          schemaEvolution = true))
      assert(e.getMessage.contains("merge source must not contain"), e.getMessage)
      assert(SnapshotTable.latestVersion(spark, path) === v0, s"$bad: a version was committed")
      assert(read(spark, path).columns.toSeq === cols0, s"$bad: the schema changed")
    }
  }

  test("schema evolution: a merge its clauses refuse adds no column and commits nothing") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val path = tmp("evorefused")
    seed(path)
    // a GENERATED column, declared at creation, for the derived-target refusal
    val genPath = tmp("evorefused-gen")
    SnapshotTable.create(spark, genPath, StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("v", DoubleType),
      StructField("y", DoubleType, nullable = true, new MetadataBuilder()
        .putString(org.apache.spark.sql.catalyst.util.GeneratedColumn
          .GENERATION_EXPRESSION_METADATA_KEY, "v * 2").build()))))
    SnapshotTable.append(Seq((1L, "a", 10.0)).toDF("k", "s", "v"), genPath)
    // the source brings two new columns; each merge is refused
    val src = Seq((2L, 99.0, "gold", 7L)).toDF("k", "v", "tier", "rank")
    val refused = Seq(
      (path, "assigns the same column more than once",
        Seq(MergeUpdate(None, Seq("v" -> col("s.v"), "v" -> col("s.rank")))), Nil),
      (path, "not in the table",
        Seq(MergeUpdate(None, Seq("nope" -> col("s.v")))), Nil),
      (path, "NOT MATCHED BY SOURCE",
        Nil, Seq(MergeUpdate(None, Seq("tier" -> col("s.tier"))))),
      (genPath, "GENERATED column",
        Seq(MergeUpdate(None, Seq("y" -> col("s.v")))), Nil))
    for ((p, msg, matched, nmbs) <- refused) {
      val v0 = SnapshotTable.latestVersion(spark, p)
      val cols0 = read(spark, p).columns.toSeq
      val e = intercept[IllegalArgumentException](
        mergeClauses(src, p, Seq("k"), matched = matched,
          notMatchedBySource = nmbs, schemaEvolution = true))
      assert(e.getMessage.contains(msg), e.getMessage)
      assert(SnapshotTable.latestVersion(spark, p) === v0, s"$msg: a version was committed")
      assert(read(spark, p).columns.toSeq === cols0, s"$msg: the schema changed")
    }
    // the evolved-to-be columns are assignable: the same source merges
    mergeClauses(src, path, Seq("k"),
      matched = Seq(MergeUpdate(None, Seq("tier" -> col("s.tier")))),
      schemaEvolution = true)
    assert(read(spark, path).columns.toSeq === Seq("k", "s", "v", "tier", "rank"))
    assert(read(spark, path).filter(col("k") === 2L).select("tier").as[String]
      .collect().toSeq === Seq("gold"))
  }

  test("exact touched-file finding: stat-less candidates shrink to files with LIVE matches") {
    import spark.implicits._
    val path = tmp("exact")
    // 12 stat-less round-robin files: range/bloom pruning keeps all
    SnapshotTable.append(
      spark.range(0, 120)
        .select(col("id").as("k"), (col("id") % 7).cast("double").as("v"))
        .repartition(12), path)
    // kill k=105 via a deletion vector — its file then holds no LIVE
    // match for key 105, so exact finding must NOT rewrite it for
    // that key (the source row inserts instead)
    SnapshotTable.deleteWithVectors(spark, path, col("k") === 105L)
    val before = SnapshotTable.liveFiles(spark, path).toSet
    val src = Seq((5L, -5.0), (105L, -105.0)).toDF("k", "v")
    SnapshotTable.merge(src, path, Seq("k"))
    val after = SnapshotTable.liveFiles(spark, path).toSet
    val rewritten = (before -- after).size
    assert(rewritten === 1,
      s"exact finding should rewrite only k=5's file, rewrote $rewritten")
    val got = read(spark, path).filter(col("k").isin(5L, 105L))
      .as[(Long, Double)].collect().toMap
    assert(got === Map(5L -> -5.0, 105L -> -105.0))
    assert(read(spark, path).count() === 120) // 119 live + 1 insert
  }

  test("txn-gated clause merge: replayed epochs skip even non-idempotent clauses") {
    import spark.implicits._
    val path = tmp("txn")
    SnapshotTable.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), path)
    val src = Seq((1L, 5.0)).toDF("k", "dv")
    // v = v + dv is NOT replay-idempotent — the watermark must gate it
    val bump = Seq(MergeUpdate(None, Seq("v" -> (col("t.v") + col("s.dv")))))
    def v1(): Double = read(spark, path).filter(col("k") === 1L)
      .select("v").as[Double].head()
    val c1 = mergeClauses(src, path, Seq("k"), matched = bump,
      txn = Some(("app", 1L)))
    assert(v1() === 15.0)
    // exact replay and an OLDER epoch both skip (watermark semantics)
    assert(mergeClauses(src, path, Seq("k"), matched = bump,
      txn = Some(("app", 1L))) === c1)
    assert(mergeClauses(src, path, Seq("k"), matched = bump,
      txn = Some(("app", 0L))) === c1)
    assert(v1() === 15.0)
    // the next epoch applies; an unrelated app has its own watermark
    mergeClauses(src, path, Seq("k"), matched = bump, txn = Some(("app", 2L)))
    assert(v1() === 20.0)
    mergeClauses(src, path, Seq("k"), matched = bump, txn = Some(("app2", 1L)))
    assert(v1() === 25.0)
    assert(SnapshotTable.streamTxnVersion(spark, path, "app") === Some(2L))
  }

  test("SQL: full clause surface end-to-end through MERGE INTO") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("merge-clauses-sql")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val path = tmp("sql")
      SnapshotTable.append(
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
          .toDF("k", "s", "v"), path)
      SnapshotCatalog.register("mc_t", path)
      try {
        Seq((1L, 5.0), (2L, 99.0), (5L, 50.0), (6L, -1.0)).toDF("k", "nv")
          .createOrReplaceTempView("mc_src")
        val v = s2.sql(
          """MERGE INTO mc_t t USING mc_src s ON t.k = s.k
            |WHEN MATCHED AND s.nv > t.v THEN UPDATE SET v = s.nv, s = upper(t.s)
            |WHEN MATCHED THEN DELETE
            |WHEN NOT MATCHED AND s.nv >= 0 THEN INSERT (k, v) VALUES (s.k, s.nv)
            |WHEN NOT MATCHED BY SOURCE AND t.v >= 40 THEN DELETE
            |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = concat(t.s, '_old')
            |""".stripMargin).head().getLong(0)
        assert(v === 2L)
        val got = s2.sql("SELECT k, s, v FROM mc_t ORDER BY k").collect()
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) null else r.getString(1), r.getDouble(2))).toSeq
        // k=1 matched, 5>10 false → DELETE; k=2 matched, 99>20 →
        // update; k=3 unmatched v<40 → s suffixed; k=4 unmatched
        // v>=40 → deleted; 5 inserts (s NULL); 6 fails the insert cond
        assert(got === Seq((2L, "B", 99.0), (3L, "c_old", 30.0),
          (5L, null, 50.0)))
        // time travel still serves the pre-merge state
        assert(s2.sql("SELECT count(*) FROM mc_t VERSION AS OF 1")
          .head().getLong(0) === 4L)
      } finally SnapshotCatalog.unregister("mc_t")
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("SQL: star actions stay on the fast path, clause shapes route to mergeClauses") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("merge-clauses-route")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val path = tmp("route")
      SnapshotTable.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), path)
      SnapshotCatalog.register("mc_r", path)
      try {
        Seq((2L, 22.0), (3L, 33.0)).toDF("k", "v")
          .createOrReplaceTempView("mc_rsrc")
        // delete-only merge (previously refused) now works
        s2.sql(
          """MERGE INTO mc_r t USING mc_rsrc s ON t.k = s.k
            |WHEN MATCHED THEN DELETE""".stripMargin).collect()
        assert(s2.sql("SELECT k FROM mc_r ORDER BY k").as[Long].collect().toSeq
          === Seq(1L))
        // WITH SCHEMA EVOLUTION: a new source column evolves the
        // target (nullable add), star actions cover it, old rows
        // read NULL
        Seq((1L, 100.0, "ny"), (7L, 70.0, "sf")).toDF("k", "v", "city")
          .createOrReplaceTempView("mc_evo_src")
        s2.sql(
          """MERGE WITH SCHEMA EVOLUTION INTO mc_r t USING mc_evo_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
        val evolved = s2.sql("SELECT k, v, city FROM mc_r ORDER BY k").collect()
          .map(r => (r.getLong(0), r.getDouble(1),
            if (r.isNullAt(2)) null else r.getString(2))).toSeq
        assert(evolved === Seq((1L, 100.0, "ny"), (7L, 70.0, "sf")))
      } finally SnapshotCatalog.unregister("mc_r")
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
