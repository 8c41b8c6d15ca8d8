package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Differential contract for the one-pass IVF search ([[Ivf.search]],
  * [[Ivf.searchQuantized]]: the assigning pass keeps each row's vector
  * and joins the broadcast probe rows, ranked under a window group
  * limit) against the three-pass join form it replaced, kept here as
  * the reference: assign, join the probe cells, join the candidates
  * back to the corpus for their vectors, rank with a full window.
  *
  * Both run on generated clustered corpora written as four parquet
  * files, with exact duplicate vectors (cosine ties at the k cut), zero
  * vectors (NaN cosines) as corpus rows and as a query, and a query id
  * absent from the corpus, at k = 1, 10 and 5,000 — the last above
  * `spark.sql.optimizer.windowGroupLimitThreshold`, where no group
  * limit is planned. A plan guard keeps the search at one corpus pass.
  */
class IvfSearchSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8

  /** The replaced candidate step, verbatim in its plan shape. */
  private def refCandidates(emb: DataFrame, model: Ivf.Model, queryIds: Seq[Long],
      nProbe: Int): DataFrame = {
    val assigned = Ivf.assign(emb, model)
    val probes = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) => model.nearestN(qv, nProbe).map(c => (qid, c)) }
      .toDF("query_id", "cluster")
    assigned.join(broadcast(probes), "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
  }

  private def rank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** The replaced `search`. */
  private def refSearch(emb: DataFrame, model: Ivf.Model, queryIds: Seq[Long], k: Int,
      nProbe: Int): DataFrame = {
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    rank(refCandidates(emb, model, queryIds, nProbe)
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(Similarity.cosine(col("embedding"), col("qv")), 6).as("cosine")), k)
  }

  /** The replaced `searchQuantized`. */
  private def refSearchQuantized(emb: DataFrame, model: Ivf.Model, queryIds: Seq[Long],
      k: Int, nProbe: Int): DataFrame = {
    val qcand = refCandidates(emb, model, queryIds, nProbe)
      .join(emb.select(col("vec_id"), col("embedding").cast("array<float>").as("v")), "vec_id")
      .select(col("query_id"), col("vec_id").cast("long"), col("v"))
      .as[(Long, Long, Array[Float])]
      .mapPartitions(_.map { case (qid, id, v) => (qid, id, Similarity.quantizeVec(v)._2) })
      .toDF("query_id", "vec_id", "qvec")
    val qq = Similarity.quantize(emb.filter(col("vec_id").isin(queryIds: _*)))
      .select(col("vec_id").as("query_id"), col("qvec").as("q_qvec"))
    rank(qcand.join(broadcast(qq), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(Similarity.quantizedCosine(col("qvec"), col("q_qvec")), 6).as("cosine")), k)
  }

  /** A clustered corpus of 400 rows in four parquet files, plus 12
    * exact copies of row 0 (a tie group straddling the k = 10 cut),
    * three copies each of rows 1–19, and three zero vectors. */
  private def corpus(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(6)(Array.fill(dim)(rnd.nextGaussian() * 3))
    val base = (0L until 400L).map { id =>
      val c = centers(rnd.nextInt(centers.length))
      id -> c.map(x => (x + rnd.nextGaussian() * 0.5).toFloat)
    }
    val copies = (1L to 12L).map(i => (1000L + i) -> base(0)._2) ++
      (1 until 20).flatMap(j => (1L to 3L).map(i => (2000L + 10L * j + i) -> base(j)._2))
    val zero = Seq(3000L, 3001L, 3002L).map(_ -> Array.fill(dim)(0f))
    val path = Files.createTempDirectory("graft-ivf-search").toString + "/emb"
    (base ++ copies ++ zero).toDF("vec_id", "embedding")
      .repartition(4).write.parquet(path)
    spark.read.parquet(path)
  }

  /** 0 and 1001 (copies of each other), 5, a zero vector and an id
    * absent from the corpus. */
  private val queryIds = Seq(0L, 1001L, 5L, 3000L, 99999L)

  /** Rows as (query, id, cosine bits): NaN compares equal to NaN. */
  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (q, v, c) => (q, v, java.lang.Double.doubleToLongBits(c)) }
      .toSeq.sorted

  test("one-pass search returns the join form's rows: ties, NaN, absent query, k = 1/10/5000") {
    Seq(11L, 12L).foreach { seed =>
      val emb = corpus(seed)
      assert(emb.rdd.getNumPartitions >= 4)
      val model = Ivf.train(emb, k = 8, iters = 5, sampleSize = 500)
      Seq(1, 10, 5000).foreach { k =>
        val got = rowsOf(Ivf.search(emb, model, queryIds, k, nProbe = 3))
        val want = rowsOf(refSearch(emb, model, queryIds, k, nProbe = 3))
        assert(got === want, s"seed $seed, k $k")
        // non-vacuous: the zero query returns its NaN-scored rows, the absent one none
        assert(got.exists(_._1 == 3000L) && !got.exists(_._1 == 99999L), s"seed $seed, k $k")
      }
    }
  }

  test("one-pass quantized search returns the join form's rows") {
    val emb = corpus(13L)
    val model = Ivf.train(emb, k = 8, iters = 5, sampleSize = 500)
    Seq(1, 10, 5000).foreach { k =>
      val got = rowsOf(Ivf.searchQuantized(emb, model, queryIds, k, nProbe = 3))
      assert(got === rowsOf(refSearchQuantized(emb, model, queryIds, k, nProbe = 3)), s"k $k")
      // the zero query ranks its NaN-scored rows, as the float search does
      assert(got.exists(_._1 == 3000L), s"k $k")
    }
  }

  test("the tie group at the k = 10 cut keeps the lowest ids") {
    val emb = corpus(11L)
    val model = Ivf.train(emb, k = 8, iters = 5, sampleSize = 500)
    val top = Ivf.search(emb, model, Seq(0L), k = 10)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    // 12 exact copies of row 0 score 1.0: the first ten ids win
    assert(top.map(_._1).toSet === (1001L to 1010L).toSet)
    assert(top.forall(_._2 == 1.0))
  }

  /** AQE's executed plan is a leaf: walk its initial plan. */
  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.initialPlan
    case p => p
  }

  test("plan guard: two corpus scans, one exchange above a partial group limit, no sort-merge join") {
    val emb = corpus(11L)
    val model = Ivf.train(emb, k = 8, iters = 5, sampleSize = 500)
    val plan = planOf(Ivf.search(emb, model, queryIds, k = 10))
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 2, s"expected the lookup and the pass:\n$plan")
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, s"expected one shuffle exchange:\n$plan")
    assert(exchanges.head.exists(_.isInstanceOf[WindowGroupLimitExec]),
      s"expected a partial WindowGroupLimit below the exchange:\n$plan")
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"expected no sort-merge join:\n$plan")
    // above the threshold no group limit is planned
    val wide = planOf(Ivf.search(emb, model, queryIds, k = 5000))
    assert(wide.collect { case g: WindowGroupLimitExec => g }.isEmpty, s"$wide")
  }
}
