package graft.lake

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** The skip compiler's contract, checked against real footer stats:
  * a fixed pool of files (int, long past 2^52, decimal, double with
  * NaN/±0.0/±Inf, non-ASCII strings, NULLs, all-NULL files, some with
  * blooms) and generated predicates over =, <, ≤, >, ≥, IN,
  * IS [NOT] NULL, `<=>`, NOT, AND, OR and widening/narrowing casts.
  * Ground truth is Catalyst's interpreted evaluation of the analyzed
  * predicate over each file's rows — no Spark job per case.
  *  - [[FileSkipping.compile]] never skips a file holding a match.
  *  - Every file [[LegacySkipCompiler]] skipped that holds no match is
  *    skipped by the new compiler too.
  * The legacy compiler's unsound skips the generator hits are
  * counted, and pinned below as named examples. */
class FileSkippingSpec extends SparkTestBase {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("dec", DecimalType(12, 3)), StructField("d", DoubleType),
    StructField("s", StringType)))

  private val ints = Seq(0, 1, -1, 7, 42, 1000000, -1000, 16777216, 16777217,
    16777219, 16777221, Int.MaxValue, Int.MinValue)
  private val longs = Seq(0L, 5L, -5L, 16777219L, 123456789012L, 1L << 52,
    (1L << 52) + 1, (1L << 53) + 1, (1L << 60) - 1, (1L << 60) + 3, Long.MaxValue,
    Long.MinValue)
  private val decs = Seq("0.000", "0.100", "1.250", "-3.500", "42.000",
    "999999.999", "-999999.999").map(BigDecimal(_))
  private val doubles = Seq(0.0, -0.0, 0.1, 1.5, -2.25, 3.0, 1e300, -1e-300,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)
  private val strings = Seq("", "a", "abc", "B", "z", "zz", "é", "ß", "Ω",
    "ÿ", "日本", "日本語", "😀")

  /** The pool: one table, each commit clustered on a different column
    * (its files get real footer bounds on it, null counts on all),
    * blooms on i/l/s for the later commits, an all-NULL file, a
    * file all-NULL in its cluster column and a NULL-free file. */
  private lazy val pool: (Seq[SnapshotTable.Entry], SnapshotTable.Manifest,
      Map[String, Seq[InternalRow]]) = {
    val path = Files.createTempDirectory("graft-skip-prop").toString + "/t"
    val rnd = new scala.util.Random(11)
    def pick[A](xs: Seq[A], nullRate: Double): Any =
      if (rnd.nextDouble() < nullRate) null else xs(rnd.nextInt(xs.size))
    def rows(n: Int, nullRate: Double = 0.15): DataFrame =
      spark.createDataFrame((1 to n).map(_ => Row(pick(ints, nullRate),
        pick(longs, nullRate), pick(decs.map(_.bigDecimal), nullRate),
        pick(doubles, nullRate), pick(strings, nullRate))).asJava, schema)
    SnapshotTable.appendClustered(rows(40), path, "i", numFiles = 3)
    SnapshotTable.appendClustered(rows(40), path, "l", numFiles = 3)
    SnapshotTable.appendClustered(rows(40), path, "d", numFiles = 3)
    SnapshotTable.appendClustered(rows(40), path, "s", numFiles = 3)
    SnapshotTable.appendClustered(rows(30), path, "dec", numFiles = 2)
    SnapshotTable.setBloomColumns(spark, path, Seq("i", "l", "s"))
    SnapshotTable.appendClustered(rows(40), path, "i", numFiles = 2)
    SnapshotTable.appendClustered(rows(40), path, "l", numFiles = 2)
    SnapshotTable.appendClustered(rows(40), path, "s", numFiles = 2)
    SnapshotTable.append(rows(8, nullRate = 1.0).coalesce(1), path)
    SnapshotTable.appendClustered(rows(20).withColumn("d", lit(null).cast("double")),
      path, "d", numFiles = 1)
    SnapshotTable.append(rows(20, nullRate = 0.0).coalesce(1), path)
    val m = SnapshotTable.readManifestFull(spark, path,
      SnapshotTable.latestVersion(spark, path).get)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val data = m.entries.map(e => e.filePath ->
      spark.read.schema(schema).parquet(e.filePath).collect().toSeq
        .map(r => toCatalyst(r).asInstanceOf[InternalRow])).toMap
    (m.entries, m, data)
  }

  // ---- the predicate generator ----

  private def nullOf(t: String): Gen[Column] = Gen.const(lit(null).cast(t))
  private val intLit: Gen[Column] = Gen.frequency(
    4 -> Gen.oneOf(ints).map(lit(_)),
    2 -> Gen.oneOf(ints).map(v => lit(v.toLong + 1)),
    2 -> Gen.oneOf(ints).map(v => lit(v.toDouble + 0.5)),
    2 -> Gen.oneOf(ints).map(v => lit(v.toFloat)),
    1 -> Gen.oneOf(ints).map(v => lit(BigDecimal(v) + BigDecimal("0.5"))),
    1 -> nullOf("int"))
  private val longLit: Gen[Column] = Gen.frequency(
    4 -> Gen.oneOf(longs).map(lit(_)),
    2 -> Gen.oneOf(longs).map(v => lit(v - 1)),
    2 -> Gen.oneOf(longs).map(v => lit(v.toDouble)),
    1 -> Gen.oneOf(longs).map(v => lit(BigDecimal(v))),
    1 -> Gen.oneOf(longs).map(v => lit(BigDecimal(new java.math.BigDecimal(v.toDouble)))),
    1 -> Gen.oneOf(ints).map(lit(_)),
    1 -> nullOf("bigint"))
  private val decLit: Gen[Column] = Gen.frequency(
    4 -> Gen.oneOf(decs).map(lit(_)),
    2 -> Gen.oneOf(decs).map(v => lit(v + BigDecimal("0.001"))),
    1 -> Gen.oneOf(ints.take(6)).map(lit(_)),
    1 -> Gen.oneOf(decs).map(v => lit(v.toDouble)),
    1 -> nullOf("decimal(12,3)"))
  private val doubleLit: Gen[Column] = Gen.frequency(
    5 -> Gen.oneOf(doubles).map(lit(_)),
    1 -> Gen.oneOf(ints.take(6)).map(lit(_)),
    1 -> Gen.oneOf(doubles).map(v => lit(v.toFloat)),
    1 -> nullOf("double"))
  private val stringLit: Gen[Column] = Gen.frequency(
    6 -> Gen.oneOf(strings ++ Seq("b", "日", "42", "7", "ab")).map(lit(_)),
    1 -> nullOf("string"))

  /** Column expressions and the literals that fit each: bare columns,
    * widening casts (int to float included; long to float is pinned
    * apart below) and narrowing and string casts (try_cast, so no row
    * errors). */
  private val targets: Seq[(Column, Gen[Column])] = Seq(
    col("i") -> intLit, col("i").cast("long") -> intLit,
    col("i").cast("double") -> intLit, col("i").cast("float") -> intLit,
    col("i").cast("decimal(20,2)") -> intLit, col("i").try_cast("short") -> intLit,
    col("i").try_cast("string") -> stringLit,
    col("l") -> longLit, col("l").cast("double") -> longLit,
    col("l").cast("decimal(30,0)") -> longLit, col("l").try_cast("int") -> longLit,
    col("l").try_cast("string") -> stringLit,
    col("dec") -> decLit, col("dec").cast("decimal(20,5)") -> decLit,
    col("dec").try_cast("int") -> decLit,
    col("d") -> doubleLit, col("d").try_cast("int") -> doubleLit,
    col("d").try_cast("float") -> doubleLit, col("d").try_cast("long") -> doubleLit,
    col("s") -> stringLit, col("s").try_cast("int") -> intLit)

  private val leaf: Gen[Column] = Gen.oneOf(targets).flatMap { case (c, lits) =>
    Gen.frequency(
      6 -> (for (op <- Gen.choose(0, 5); v <- lits) yield op match {
        case 0 => c === v
        case 1 => c < v
        case 2 => c <= v
        case 3 => c > v
        case 4 => c >= v
        case _ => c <=> v
      }),
      3 -> (for (op <- Gen.choose(0, 4); v <- lits) yield op match {
        case 0 => v === c
        case 1 => v < c
        case 2 => v <= c
        case 3 => v > c
        case _ => v <=> c
      }),
      2 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, lits)).map(vs => c.isin(vs: _*)),
      1 -> Gen.const(c.isNull),
      1 -> Gen.const(c.isNotNull),
      1 -> Gen.oneOf(col("i") < col("l"), col("d") >= col("i"), col("dec") === col("i")))
  }

  private def predicate(depth: Int): Gen[Column] =
    if (depth == 0) leaf
    else Gen.frequency(
      4 -> leaf,
      2 -> Gen.zip(predicate(depth - 1), predicate(depth - 1)).map { case (a, b) => a && b },
      2 -> Gen.zip(predicate(depth - 1), predicate(depth - 1)).map { case (a, b) => a || b },
      1 -> predicate(depth - 1).map(!_))

  private lazy val frame = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  private def analyzed(df: DataFrame, c: Column): Filter =
    df.filter(c).queryExecution.analyzed.collectFirst { case f: Filter => f }.get

  test("property: no file holding a match is skipped, and every file the legacy compiler soundly skipped still is") {
    val (entries, m, data) = pool
    val useBlooms = entries.exists(_.blooms.nonEmpty)
    assert(entries.size >= 20 && entries.exists(_.blooms.nonEmpty))
    assert(entries.exists(e => e.nulls.exists(n => n._2 == e.rows)), "no all-NULL file")
    val gen = predicate(3)
    var (cases, attempts, newPruned, oldPruned, oldUnsound, exempted) = (0, 0, 0, 0, 0, 0)
    val unsound = scala.collection.mutable.LinkedHashSet.empty[String]
    while (cases < 1000) {
      attempts += 1
      assert(attempts < 1500, s"only $cases of $attempts predicates analyzed and evaluated")
      val p = gen.pureApply(Gen.Parameters.default, Seed(attempts.toLong))
      scala.util.Try(analyzed(frame, p)).toOption.foreach { f =>
        val bound = BindReferences.bindReference(f.condition, f.child.output)
        val matches: Map[String, Boolean] = data.map { case (file, rs) =>
          file -> rs.exists(r => bound.eval(r) == true) }
        cases += 1
        val exempt = legacyUnsoundShape(f.condition)
        if (exempt) exempted += 1
        val now = FileSkipping.compile(f.condition, m.phys)
        val legacy = LegacySkipCompiler.compileSkipPredicate(f.condition, m.phys, useBlooms)
        entries.foreach { e =>
          val hit = matches(e.filePath)
          val (skipNew, skipOld) = (!now(e), !legacy(e))
          assert(!(skipNew && hit),
            s"skipped a matching file: ${f.condition.sql} on $e")
          assert(!skipOld || hit || skipNew || exempt,
            s"legacy compiler soundly skipped, new did not: ${f.condition.sql} on $e")
          if (skipNew) newPruned += 1
          if (skipOld) oldPruned += 1
          if (skipOld && hit) { oldUnsound += 1; unsound += f.condition.sql }
        }
      }
    }
    info(s"$cases predicates x ${entries.size} files: new compiler pruned $newPruned, " +
      s"legacy $oldPruned, of which $oldUnsound held a match; " +
      s"$exempted predicates exempt from the second assertion")
    unsound.take(5).foreach(u => info(s"legacy unsound: $u"))
    assert(newPruned >= oldPruned - oldUnsound && newPruned > cases,
      s"vacuous: $newPruned prunes over $cases predicates")
  }

  /** Leaves where a legacy rule was unsound (pinned below): a NaN
    * literal, or an int or long column cast to FLOAT. A legacy skip
    * resting on one can still be right by accident, when another
    * conjunct is unsatisfiable in the file; the new compiler keeps such
    * files, so these predicates are exempt from the second assertion
    * (never from the first). */
  private def legacyUnsoundShape(c: Expression): Boolean = c.exists {
    case Cast(a, FloatType, _, _) => a.dataType == IntegerType || a.dataType == LongType
    case e if e.foldable && (e.dataType == DoubleType || e.dataType == FloatType) =>
      scala.util.Try(e.eval()).toOption.exists {
        case d: Double => d.isNaN
        case f: Float  => f.isNaN
        case _ => false
      }
    case _ => false
  }

  /** Compile `c` against the one-entry table at `path` with both
    * compilers: (new keeps the file, legacy keeps the file). */
  private def verdicts(path: String, c: Column): (Boolean, Boolean) = {
    val m = SnapshotTable.readManifestFull(spark, path,
      SnapshotTable.latestVersion(spark, path).get)
    val f = analyzed(SnapshotTable.read(spark, path), c)
    val e = m.entries.head
    (FileSkipping.compile(f.condition, m.phys)(e),
      LegacySkipCompiler.compileSkipPredicate(f.condition, m.phys, useBlooms = false)(e))
  }

  test("int cast to float: the bounds compare as the floats the cast makes (legacy skipped a match)") {
    val path = Files.createTempDirectory("graft-skip-i2f").toString + "/t"
    SnapshotTable.appendClustered(Seq(5, 16777219).toDF("i"), path, "i", numFiles = 1)
    // CAST(16777219 AS FLOAT) rounds to 16777220
    val c = col("i").cast("float") >= lit(16777220f)
    assert(SnapshotTable.readWhere(spark, path, c).count() === 1)
    assert(verdicts(path, c) === ((true, false)))
    assert(verdicts(path, col("i").cast("float") > lit(16777220f)) === ((false, false)))
  }

  test("long cast to float contributes no bound (legacy skipped a match)") {
    val path = Files.createTempDirectory("graft-skip-l2f").toString + "/t"
    SnapshotTable.appendClustered(Seq(5L, 16777219L).toDF("l"), path, "l", numFiles = 1)
    val c = col("l").cast("float") === lit(16777220f)
    assert(SnapshotTable.readWhere(spark, path, c).count() === 1)
    assert(verdicts(path, c) === ((true, false)))
  }

  test("a long past 2^52 against an exact DECIMAL literal: its rounded bound may equal the literal") {
    val path = Files.createTempDirectory("graft-skip-l2dec").toString + "/t"
    SnapshotTable.appendClustered(Seq((1L << 60) + 1).toDF("l"), path, "l", numFiles = 1)
    // the file's bound is [2^60, 2^60] in Double; the comparison runs in
    // DECIMAL(20,0), where 2^60 + 1 > 2^60
    val p60 = BigDecimal(new java.math.BigDecimal(1L << 60))
    val c = col("l") > lit(p60)
    assert(SnapshotTable.readWhere(spark, path, c).count() === 1)
    assert(verdicts(path, c) === ((true, true)))
    assert(verdicts(path, col("l") < lit(p60 + 2)) === ((true, true)))
    assert(verdicts(path, col("l") < lit(p60 - 1000000)) === ((false, false)))
  }

  test("v < NaN holds for every non-NaN v (legacy skipped every bounded file)") {
    val path = Files.createTempDirectory("graft-skip-nan").toString + "/t"
    SnapshotTable.appendClustered(Seq(1.0, 2.0).toDF("d"), path, "d", numFiles = 1)
    val c = col("d") < lit(Double.NaN)
    assert(SnapshotTable.readWhere(spark, path, c).count() === 2)
    assert(verdicts(path, c) === ((true, false)))
    // v = NaN and v > NaN still skip a file whose bounds hold no NaN
    assert(verdicts(path, col("d") === lit(Double.NaN)) === ((false, false)))
    assert(verdicts(path, col("d") > lit(Double.NaN)) === ((false, false)))
  }
}
