package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Similarity search over embedding columns (array<float>).
  *
  * Two paths, per the standard ANN playbook:
  *  - brute-force cosine top-k — the exact baseline. One broadcast of
  *    the query vectors, one scan of the corpus, TakeOrderedAndProject
  *    for the top-k: correct at any scale where a full scan is
  *    affordable.
  *  - multi-table random-hyperplane LSH — the scale path. Each vector
  *    maps to `numTables` sign-pattern buckets (pure Column
  *    expressions over literal hyperplanes, fixed seed); candidate
  *    generation is an equi-join on (table, bucket) — shuffle volume
  *    O(n · tables), never O(n²) — followed by exact cosine rerank of
  *    candidates only.
  *
  * Dot products / norms are HOF folds (`zip_with` + `aggregate`) in
  * double precision — codegen'd, no UDF.
  */
object Similarity {

  /** HOF formulations — correct and dependency-free, but
    * CodegenFallback (interpreted). Kept for reference/tests; the hot
    * paths use the native codegen'd expressions below. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosineHof(a: Column, b: Column): Column = dotHof(a, b) / (l2norm(a) * l2norm(b))

  /** Native fused-loop Catalyst expressions (graft.functions) — same
    * double-precision math and accumulation order as the HOF forms,
    * so results (and the DuckDB oracles) are unchanged. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot_product(a, b)

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(a, b)

  // ---- LSH machinery ------------------------------------------------

  /** Hyperplane-LSH configuration — the recall/cost knob of the
    * index: more tables raise recall linearly in shuffle volume;
    * fewer bits per table coarsen buckets (bigger candidate pools,
    * more exact rerank work). Planes are deterministic from the seed,
    * so an index is reproducible from its config alone. */
  final case class LshConfig(numTables: Int = 4, bitsPerTable: Int = 8,
      dim: Int = 64, seed: Int = 7) {
    /** Flat plane array for the tight loop: plane (t, j) occupies
      * [(t*bitsPerTable + j) * dim, …+dim). */
    lazy val planesFlat: Array[Double] = {
      val rng = new scala.util.Random(seed)
      Array.fill(numTables * bitsPerTable * dim)(rng.nextGaussian())
    }
  }

  val defaultLsh: LshConfig = LshConfig()
  def numTables: Int = defaultLsh.numTables
  def bitsPerTable: Int = defaultLsh.bitsPerTable
  def dim: Int = defaultLsh.dim

  /** All table buckets of one vector — tight loop on purpose (the
    * HOF-expression formulation of 32 plane dot products per row is
    * CodegenFallback/interpreted; same rationale as the minhash
    * signature, see TextDedup). */
  def bucketsOf(v: Array[Float], cfg: LshConfig = defaultLsh): Array[Long] = {
    val planes = cfg.planesFlat
    val out = new Array[Long](cfg.numTables)
    val n = math.min(v.length, cfg.dim)
    var t = 0
    while (t < cfg.numTables) {
      var bucket = 0L
      var j = 0
      while (j < cfg.bitsPerTable) {
        val base = (t * cfg.bitsPerTable + j) * cfg.dim
        var d = 0.0
        var i = 0
        while (i < n) { d += v(i) * planes(base + i); i += 1 }
        if (d > 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  /** (id, tbl, bucket) — one row per table per vector, computed in a
    * typed per-partition pass (no shuffle until the consuming join). */
  def bucketize(emb: DataFrame, idCol: String, vecCol: String,
      cfg: LshConfig = defaultLsh): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        bucketsOf(v, cfg).iterator.zipWithIndex.map { case (b, t) => (id, t, b) }
      }
      .toDF(idCol, "tbl", "bucket")
  }

  // ---- brute force --------------------------------------------------

  /** Exact top-k neighbors of one stored vector (excluding itself). */
  def bruteForceTopK(emb: DataFrame, queryVecId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol) === queryVecId).select(col(vecCol).as("qv"))
    emb.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col(vecCol), col("qv")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Metadata-filtered (hybrid) exact search: top-k among only the
    * vectors whose ids survive a metadata predicate — "nearest
    * neighbors within source X / language Y / date range Z", the
    * filtered-vector-search shape every retrieval stack needs. The
    * allowed-id side prunes FIRST (left-semi on the id key, so the
    * cosine work touches only survivors); the scan stays one pass
    * over the pruned corpus with the query broadcast. For a
    * NON-selective predicate at index scale, compose the IVF path
    * instead — [[Ivf.searchFiltered]] probes cells, over-fetches,
    * and post-filters — and for a selective one this pre-filter form
    * is optimal (the fewer the survivors, the cheaper the exact
    * scan, while an IVF probe's cost would not shrink at all). */
  def filteredTopK(emb: DataFrame, allowedIds: DataFrame, queryVecId: Long,
      k: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = emb.filter(col(idCol) === queryVecId).select(col(vecCol).as("qv"))
    emb.join(allowedIds.select(col(idCol)), Seq(idCol), "left_semi")
      .filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col(vecCol), col("qv")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- LSH ANN ------------------------------------------------------

  /** Approximate top-k for a set of stored query ids: bucket join →
    * dedup candidates → exact cosine rerank → top-k per query. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cfg: LshConfig = defaultLsh): DataFrame = {
    val queries = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qBuckets = broadcast(
      bucketize(queries.withColumnRenamed("query_id", "query_id_tmp"), "query_id_tmp", "qv", cfg)
        .withColumnRenamed("query_id_tmp", "query_id"))
    val candidates = bucketize(emb, idCol, vecCol, cfg)
      .join(qBuckets, Seq("tbl", "bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol))
      .distinct()
    val rescored = candidates
      .join(emb.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col(idCol),
        round(cosine(col(vecCol), col("qv")), 6).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(idCol).asc)
    rescored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Embedding-cosine near-duplicate pairs: LSH bucket self-join
    * (candidates share a (table, bucket)), native-cosine verification
    * ≥ threshold. The dedup-by-embedding analogue of
    * TextDedup.nearDuplicates — same O(n·tables) shuffle bound, exact
    * scoring only on candidates. */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val buckets = bucketize(emb, idCol, vecCol)
      .withColumnRenamed(idCol, "id")
    val cand = buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = emb.select(col(idCol), col(vecCol))
    cand
      .join(vecs.withColumnRenamed(idCol, "id_a").withColumnRenamed(vecCol, "va"), "id_a")
      .join(vecs.withColumnRenamed(idCol, "id_b").withColumnRenamed(vecCol, "vb"), "id_b")
      .select(col("id_a"), col("id_b"), round(cosine(col("va"), col("vb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ---- driver-gate queries -----------------------------------------

  def vectorNorms(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), round(l2norm(col("embedding")), 4).as("l2_norm"))
      .orderBy("vec_id")

  val vectorNormsSql: String =
    """SELECT vec_id, round(sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS l2_norm
      |FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) t
      |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  def annBruteForce(spark: SparkSession, dir: String): DataFrame =
    bruteForceTopK(Tables.embeddings(spark, dir), queryVecId = 0L, k = 20)

  val annBruteForceSql: String =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |x AS (
      |  SELECT e.vec_id,
      |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dp,
      |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
      |    sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS nb
      |  FROM embeddings e, q, (SELECT unnest(generate_series(1, 64)) AS i) i
      |  WHERE e.vec_id <> 0
      |  GROUP BY e.vec_id
      |)
      |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 6) AS cosine
      |FROM x ORDER BY cosine DESC, vec_id ASC LIMIT 20""".stripMargin

  /** Corpus augmented with an exact copy of each query vector at
    * id + 10M — the planted nearest neighbor every ANN index must
    * find: an identical vector lands in the same LSH bucket in every
    * table (and the same IVF cell), so its candidacy is guaranteed,
    * and cos(v, v) = 1.0 at 6 decimals puts it at the top of the
    * exact rerank. */
  private[ops] def withPlantedQueries(emb: DataFrame, queryIds: Seq[Long],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    emb.unionByName(
      emb.filter(col(idCol).isin(queryIds: _*))
        .select((col(idCol) + lit(10000000L)).as(idCol), col(vecCol)))

  /** Oracle-checkable ANN accuracy contract, applied to any ANN
    * result of shape (query_id, vec_id, cosine): per query, (1) the
    * best returned cosine is exactly 1.0 (the planted copy — a real
    * value column the oracle emits, not a tuned constant), (2) the
    * planted copy was returned, and (3) EVERY returned neighbor's
    * exact brute-force rank (one broadcast of the queries, one corpus
    * scan, a per-query row_number — the q31 shape) is within
    * `rankBound`. Booleans are computed engine-side against the exact
    * ranking; the oracle asserts them true, which is exactly the
    * "returned neighbors are genuinely near" contract an ANN index
    * promises. */
  private[ops] def annContract(ann: DataFrame, corpus: DataFrame,
      queryIds: Seq[Long], rankBound: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val queries = corpus.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("qid"), col(vecCol).as("xqv"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("xcos").desc, col("xid").asc)
    val ranks = corpus
      .crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("xid"),
        round(cosine(col(vecCol), col("xqv")), 6).as("xcos"))
      .withColumn("xrank", row_number().over(w))
    // the ANN result is bounded at queries × k rows BY CONSTRUCTION —
    // broadcast it so the contract join streams the ranked corpus
    // through a BroadcastHashJoin instead of sort-merge-exchanging
    // BOTH sides (plan audit: every ANN gate carried SMJ ×2 +
    // 2 extra exchanges here; the hint removes them at any scale)
    broadcast(ann)
      .join(ranks, ann("query_id") === ranks("qid") && ann(idCol) === ranks("xid"))
      .groupBy(col("query_id"))
      .agg(
        max(col("cosine")).as("best_cosine"),
        max(ann(idCol) === col("query_id") + lit(10000000L)).as("planted_nn_returned"),
        (max(col("xrank")) <= rankBound).as(s"all_in_exact_top$rankBound"))
      .orderBy("query_id")
  }

  private def annContractSql(rankBound: Int): String =
    s"""SELECT vec_id AS query_id, CAST(1.0 AS DOUBLE) AS best_cosine,
       |  true AS planted_nn_returned, true AS all_in_exact_top$rankBound
       |FROM embeddings WHERE vec_id IN (0, 1, 2) ORDER BY query_id""".stripMargin

  val annQueryIds: Seq[Long] = Seq(0L, 1L, 2L)

  /** LSH ANN accuracy gate: top-10 for 3 stored queries over the
    * planted corpus, checked against the exact ranking (hyperplane
    * values never surface — only the contract columns do). Uses a
    * higher-recall index config than the dedup sweeps (8 tables × 6
    * bits: candidate pools of ~10% of the corpus instead of ~2%) —
    * the knob a real deployment turns when top-k quality matters more
    * than shuffle volume. */
  val annLshConfig: LshConfig = LshConfig(numTables = 8, bitsPerTable = 6)

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedQueries(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), annQueryIds)
    annContract(lshTopK(corpus, annQueryIds, k = 10, cfg = annLshConfig),
      corpus, annQueryIds, rankBound = annLshRankBound)
  }

  val annLshRankBound = 100
  val annLshSql: String = annContractSql(annLshRankBound)

  /** Embedding near-dup sweep over a corpus with planted SCALED
    * copies (2·v, id + 10M): the full bucket-self-join → cosine-verify
    * path runs over the whole corpus (organic pairs included), then
    * the output is restricted to the planted pairs — which makes it
    * fully oracle-checkable. Doubling is exact in float (exponent
    * bump) and sign-preserving, so every hyperplane bit — hence every
    * (table, bucket) — of the copy equals the original's and the band
    * join finds each planted pair with recall exactly 1 (not merely
    * probable); cos(v, 2v) = 1 to well inside 6 decimals
    * (sqrt(4s) = 2·sqrt(s) exactly in IEEE arithmetic, leaving ≤ 1-ulp
    * division error). The oracle asserts one row per vector with
    * cosine 1.0; plane values never appear in the output. */
  def embeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val planted = emb.select(
      (col("vec_id") + lit(10000000L)).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    embeddingNearDups(emb.unionByName(planted), 0.98)
      .filter(col("id_b") === col("id_a") + lit(10000000L))
      .orderBy("id_a", "id_b")
  }

  val embeddingDedupSql: String =
    """SELECT vec_id AS id_a, vec_id + 10000000 AS id_b,
      |  CAST(1.0 AS DOUBLE) AS cosine
      |FROM embeddings ORDER BY id_a, id_b""".stripMargin

  // ---- int8 scalar quantization ------------------------------------

  /** Per-vector symmetric int8 quantization: scale = max|x|/127,
    * q[i] = round(x[i]/scale) clamped to [-127, 127]. The 4× smaller
    * corpus is what the ANN scan reads at scale — the scan is memory-
    * bandwidth-bound, so the compression is throughput. Exact copies
    * quantize identically (same scale, same bytes), which makes
    * planted-copy recall provable, and quantized cosine needs no
    * scales at all — they cancel:
    * dot(qa,qb)/(sqrt(dot(qa,qa))·sqrt(dot(qb,qb))), three EXACT
    * integer dots per pair (DotProductI8, codegen'd) and one IEEE
    * division — bit-identical across engines. Typed per-partition
    * pass (the minhash tier — HOF folds are CodegenFallback). */
  def quantize(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          val (scale, q) = quantizeVec(v)
          (id, scale, q)
        }
      }.toDF(idCol, "scale", "qvec")
  }

  /** The per-vector quantization core shared by [[quantize]] and the
    * candidate-only quantization in [[Ivf.searchQuantized]]. */
  private[ops] def quantizeVec(v: Array[Float]): (Double, Array[Byte]) = {
    var mx = 0f
    var i = 0
    while (i < v.length) {
      val a = math.abs(v(i)); if (a > mx) mx = a; i += 1
    }
    val scale = if (mx == 0f) 1.0f else mx / 127f
    val q = new Array[Byte](v.length)
    i = 0
    while (i < v.length) {
      q(i) = math.max(-127, math.min(127, math.round(v(i) / scale))).toByte
      i += 1
    }
    (scale.toDouble, q)
  }

  def quantizedCosine(a: Column, b: Column): Column = {
    val dq = graft.functions.VectorFunctions.dot_product_i8(a, b).cast("double")
    val na = graft.functions.VectorFunctions.dot_product_i8(a, a).cast("double")
    val nb = graft.functions.VectorFunctions.dot_product_i8(b, b).cast("double")
    // a zero vector has no direction: NaN, as float `cosine` gives,
    // where ANSI division would raise DIVIDE_BY_ZERO
    val norms = sqrt(na) * sqrt(nb)
    when(norms === 0.0, lit(Double.NaN)).otherwise(dq / norms)
  }

  /** Quantized-ANN accuracy gate: brute-force top-10 per query over
    * the int8 corpus, checked against the exact float ranking via the
    * shared ANN contract — planted exact copies quantize to identical
    * bytes (quantized cosine exactly 1.0 at 6 dp), and every neighbor
    * the quantized ranking returns must sit inside the exact top-100.
    * This is the "is int8 good enough" question asked as an oracle-
    * checkable query. */
  def quantizedAnn(spark: SparkSession, dir: String): DataFrame = {
    val corpus = withPlantedQueries(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), annQueryIds)
    val qcorp = quantize(corpus)
    val queries = qcorp.filter(col("vec_id").isin(annQueryIds: _*))
      .select(col("vec_id").as("query_id"), col("qvec").as("q_qvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val ann = qcorp
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(quantizedCosine(col("qvec"), col("q_qvec")), 6).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).drop("rn")
    annContract(ann, corpus, annQueryIds, rankBound = quantizedRankBound)
  }

  val quantizedRankBound = 100
  val quantizedAnnSql: String = annContractSql(quantizedRankBound)

  // ---- SemDeDup ----------------------------------------------------
  // Semantic dedup via embedding clusters (Abbas et al. 2023,
  // arXiv:2303.09540): cluster normalized embeddings with k-means,
  // then compare pairs only WITHIN a cluster and drop every vector
  // whose cosine to a lower-id cluster-mate reaches the threshold.
  // This is the scale contract of the published method: the pair space
  // is Σ|cluster|² instead of n², and k grows with the corpus so
  // clusters stay bounded. Plan shape: one typed normalize pass, the
  // distributed k-means partial-sum training (driver state = k×dim),
  // one map-only assign pass (model in closure), a cluster-keyed
  // self-join for candidates, and an anti-join-shaped keep flag.
  def semDedup(emb: DataFrame, k: Int, threshold: Double, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // unit-normalize: SemDeDup's geometry is cosine, and k-means cells
    // under L2 on unit vectors ARE cosine cells; scaled duplicates
    // normalize to bit-identical floats (×2 is exact in IEEE), so
    // copies provably co-cluster
    val unit = emb.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
        val n = math.sqrt(s)
        val u =
          if (n == 0.0) v
          else {
            val o = new Array[Float](v.length)
            var j = 0
            while (j < v.length) { o(j) = (v(j) / n).toFloat; j += 1 }
            o
          }
        (id, u)
      }).toDF(idCol, vecCol)
    val model = Ivf.trainDistributed(unit, k, iters, idCol = idCol, vecCol = vecCol)
    val assigned = unit.as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, model.nearest(v), v) })
      .toDF(idCol, "cluster", vecCol)
    val a = assigned.select(col("cluster"), col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = assigned.select(col("cluster"), col(idCol).as("id_b"), col(vecCol).as("vb"))
    val dropped = a.join(b, "cluster")
      .filter(col("id_a") < col("id_b") &&
        cosine(col("va"), col("vb")) >= lit(threshold))
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("is_dup", lit(true))
    assigned.select(col(idCol), col("cluster"))
      .join(dropped, Seq(idCol), "left_outer")
      .select(col(idCol), col("cluster"), col("is_dup").isNull.as("kept"))
  }

  /** Contract entry: planted ×2-scaled copies (id + 10M) normalize to
    * bit-identical unit vectors, so each provably lands in its base's
    * cluster at cosine 1.0 and — having the higher id — is dropped.
    * The oracle states that closed form; recall below 1 on ANY planted
    * copy hash-mismatches. */
  def semDedupDemo(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val planted = emb.select(
      (col("vec_id") + lit(10000000L)).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    semDedup(emb.unionByName(planted), k = 32, threshold = 0.99)
      .filter(col("vec_id") >= 10000000L)
      .select(col("vec_id"), col("kept"))
      .orderBy("vec_id")
  }

  val semDedupSql: String =
    """SELECT vec_id + 10000000 AS vec_id, false AS kept
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Hybrid search gate: exact top-15 neighbors of vector 0 among
    * only the embeddings whose DOCUMENT row (vec_id = doc_id) is from
    * source 'src1' with ≥ 200 chars — the predicate runs on the
    * metadata table, the distance on the vector table, composed by a
    * semi-join. Fully exact, so the oracle recomputes it closed-form. */
  def filteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val allowed = Tables.documents(spark, dir)
      .filter(col("source") === "src1" && col("n_chars") >= 200)
      .select(col("doc_id").as("vec_id"))
    filteredTopK(Tables.embeddings(spark, dir), allowed, queryVecId = 0L, k = 15)
  }

  val filteredAnnSql: String =
    """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |a AS (SELECT doc_id FROM documents WHERE source = 'src1' AND n_chars >= 200),
      |x AS (
      |  SELECT e.vec_id,
      |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dp,
      |    sum(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
      |    sum(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS nb
      |  FROM embeddings e
      |  JOIN a ON e.vec_id = a.doc_id, q,
      |    (SELECT unnest(generate_series(1, 64)) AS i) i
      |  WHERE e.vec_id <> 0
      |  GROUP BY e.vec_id
      |)
      |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nb)), 6) AS cosine
      |FROM x ORDER BY cosine DESC, vec_id ASC LIMIT 15""".stripMargin

  val catalog: Seq[QDef] = Seq(
    QDef("q26_vector_norm", vectorNorms, Some(vectorNormsSql)),
    QDef("q31_ann_cosine_topk", annBruteForce, Some(annBruteForceSql)),
    QDef("q37_ann_lsh_topk", annLsh, Some(annLshSql)),
    QDef("q45_embedding_dedup", embeddingDedup, Some(embeddingDedupSql)),
    QDef("q106_quantized_ann", quantizedAnn, Some(quantizedAnnSql)),
    QDef("q115_semdedup", semDedupDemo, Some(semDedupSql)),
    QDef("q128_ann_filtered", filteredAnn, Some(filteredAnnSql)),
  )
}
