package lakebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Ivf, TextAnalysis, TextDedup}

/** `docs_curation`: generated documents with planted exact and near
  * duplicates, plus clustered embeddings. The curation phase runs
  * language id and quality scoring, exact and MinHash near-duplicate
  * detection, and an IVF index build; then a loop of top-10 IVF
  * searches. The curation phase, the index build and each search are
  * one op each. No lake code runs here. */
object DocsCuration extends Workload {
  val name = "docs_curation"
  val nDocs = 2500
  val nVectors = 6000
  val dim = 32
  val clusters = 24
  val k = 10
  /** Searches in the timed loop: two more than the run's seconds, at
    * least ten. */
  def searches(seconds: Int): Int = math.max(10, seconds + 2)

  private var docsPath = ""
  private var embPath = ""
  private var planted: Gen.Docs = _
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private var queryIds: IndexedSeq[Long] = IndexedSeq.empty
  private var curateSeconds = 0.0
  private var exactFound = -1L
  private var nearFound = Set.empty[(Long, Long)]
  private var annResults = Seq.empty[(Long, Seq[Long])]
  private var annScanned = 0L
  private var annRows = 0L
  private var recall = 0.0

  private def write(spark: SparkSession, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType,
      path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).write.parquet(path)

  def setup(ctx: Ctx, rec: Recorder): (Long, Long) = {
    val spark = ctx.spark
    docsPath = ctx.path("docs"); embPath = ctx.path("embeddings")
    planted = Gen.docs(ctx.seed, nDocs)
    val emb = Gen.embeddings(ctx.seed, nVectors, dim, clusters)
    vectors = emb.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    write(spark, planted.rows, Gen.docsSchema, docsPath)
    write(spark, emb, Gen.embSchema, embPath)
    val r = Gen.rng(ctx.seed, 0x0E5L)
    queryIds = (0 until searches(ctx.seconds)).map(_ => r.nextInt(nVectors).toLong)
    ((nDocs + nVectors).toLong, Fs.bytesUnder(docsPath) + Fs.bytesUnder(embPath))
  }

  /** The whole cycle on 1,200 documents, 600 vectors and two searches:
    * with 300 documents the timed curation phase still varied by ±20%
    * from run to run on one seed. */
  def warmup(ctx: Ctx, rec: Recorder): Unit = {
    val spark = ctx.spark
    val d = ctx.path("warmup/docs"); val e = ctx.path("warmup/embeddings")
    write(spark, Gen.docs(ctx.seed + 1, 1200).rows, Gen.docsSchema, d)
    write(spark, Gen.embeddings(ctx.seed + 1, 600, dim, 4), Gen.embSchema, e)
    cycle(spark, rec, d, e, Seq(1L, 2L), None)
  }

  def run(ctx: Ctx, rec: Recorder): Unit =
    cycle(ctx.spark, rec, docsPath, embPath, queryIds, ctx.plant)

  private def cycle(spark: SparkSession, rec: Recorder, docsAt: String, embAt: String,
      queries: Seq[Long], plant: Option[String]): Unit = {
    val docs = spark.read.parquet(docsAt)
    val emb = spark.read.parquet(embAt)
    val t0 = System.nanoTime()
    // the curation phase is one op, the unit a user waits for, so the
    // op tail is the whole phase rather than its slowest stage alone
    rec.op("curate") {
      rec.layer("ops.curate_s") {
        docs.select(TextAnalysis.predictLang(col("text")).as("lang"),
            TextAnalysis.qualityScore(col("text")).as("q"))
          .groupBy("lang").agg(count(lit(1)), round(sum("q"), 6)).collect()
      }
      exactFound = rec.layer("ops.curate_s") {
        TextDedup.exactDuplicates(docs).agg(coalesce(sum(col("n_copies") - 1), lit(0L))).head().getLong(0)
      }
      nearFound = rec.layer("ops.curate_s") {
        TextDedup.nearDuplicates(docs, 0.8).select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    }
    curateSeconds = (System.nanoTime() - t0) / 1e9
    val model = rec.op("ivf_build") {
      rec.layer("ops.ivf_build_s") {
        val m = Ivf.train(emb, clusters)
        Ivf.assign(emb, m).groupBy("cluster").count().collect()
        m
      }
    }
    annScanned = 0; annRows = 0
    annResults = model.toSeq.flatMap { m =>
      queries.zipWithIndex.flatMap { case (q, i) =>
        rec.op("ann_query") {
          if (plant.contains("failure") && i == 1) throw new IllegalStateException("planted failure")
          val df = Ivf.search(emb, m, Seq(q), k)
          val rows = rec.layer("ops.ann_query_s")(df.collect())
          annScanned += Plans.scanned(df)._2; annRows += rows.length
          q -> rows.sortBy(r => (-r.getAs[Double]("cosine"), r.getAs[Long]("vec_id")))
            .map(_.getAs[Long]("vec_id")).toSeq
        }
      }
    }
  }

  /** Exact top-k by cosine, in plain Scala over the generated vectors
    * (ties by id, the query itself excluded). */
  def bruteForce(q: Long): Seq[Long] = {
    val qv = vectors(q)
    def cos(v: Array[Float]): Double = {
      var d = 0.0; var a = 0.0; var b = 0.0; var i = 0
      while (i < v.length) { d += v(i) * qv(i); a += v(i) * v(i); b += qv(i) * qv(i); i += 1 }
      d / (math.sqrt(a) * math.sqrt(b))
    }
    vectors.iterator.filter(_._1 != q).map { case (id, v) => (id, cos(v)) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
  }

  /** IVF results below this mean recall count as a wrong answer: on
    * these well-separated clusters a 4-cell probe finds the true
    * neighbours. */
  val minRecall = 0.9

  def check(ctx: Ctx): Int = {
    val exactWant = planted.exactCopies.toLong +
      (if (ctx.plant.contains("wrong-answer")) 1 else 0)
    val recalls = annResults.map { case (q, got) => got.toSet.intersect(bruteForce(q).toSet).size / k.toDouble }
    recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    val near = planted.nearPairs.count { case (a, b) => nearFound((math.min(a, b), math.max(a, b))) }
    System.out.println(s"[lakebench] $name planted exact copies ${planted.exactCopies} found $exactFound; " +
      s"planted near pairs ${planted.nearPairs.size} found $near")
    val checks = Seq(
      "exact duplicate count" -> (exactFound == exactWant),
      "ann recall" -> (recall >= minRecall))
    checks.collect { case (what, false) =>
      System.err.println(s"[lakebench] $name mismatch: $what"); 1
    }.sum
  }

  def rows: (Long, Option[Double]) = (nDocs.toLong, Some(curateSeconds))

  override def extraEndToEnd(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(("recall_at_10", recall, "ratio"))

  override def extraLayers(ctx: Ctx, rec: Recorder): Map[String, Double] = Map(
    "ops.recall_at_10" -> recall,
    "ops.ann_rows_scanned_per_result" -> annScanned.toDouble / math.max(1L, annRows))
}
